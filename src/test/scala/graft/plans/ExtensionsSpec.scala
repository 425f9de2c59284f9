package graft.plans

import graft.{Queries, SparkSpec}
import graft.operators.{Ann, Dedup}
import graft.sources.Tables

/** The deployment path for the native kernels: the shared test session
  * is built with ONLY `spark.sql.extensions=graft.plans.GraftExtensions`
  * (SparkSpec) and NO programmatic registration — exactly how a consuming
  * application on a real cluster picks the functions up from the jar. (The
  * extensions class name is a STATIC conf read from the SparkContext at
  * session construction, so it must ride the first builder in the JVM.)
  * Sessions built without the extension, such as the driver mains', get
  * the same `NativeKernels.table` entries from `NativeKernels.ensure`, which
  * every operator that uses a kernel calls and which installs only the
  * names the session lacks.
  */
class ExtensionsSpec extends SparkSpec {

  test("spark.sql.extensions registers replace_prefixes_fast and scaled_dot_fast for plain SQL") {
    val short = spark
      .sql("SELECT replace_prefixes_fast('http://www.wikidata.org/entity/Q42') AS s")
      .head().getString(0)
    assert(short == "wd:Q42")
    val dot = spark
      .sql("""SELECT scaled_dot_fast(cast(array(1.0, 2.0) as array<float>),
              |                      cast(array(3.0, 0.5) as array<float>)) AS d""".stripMargin)
      .head().getLong(0)
    // floor(1000)*floor(3000) + floor(2000)*floor(500) = 3_000_000 + 1_000_000
    assert(dot == 4000000L)
    // int8_dot_fast over binary literals: 0x01*0x03 + 0x7F*0x01 = 3 + 127
    val i8 = spark.sql("SELECT int8_dot_fast(X'017F', X'0301') AS d").head().getLong(0)
    assert(i8 == 130L)
    // signed bytes: 0xFF = -1
    val neg = spark.sql("SELECT int8_dot_fast(X'FF', X'02') AS d").head().getLong(0)
    assert(neg == -2L)
  }

  test("a fresh session resolves every native kernel in plain SQL, at its arity only") {
    // newSession() starts from the builtins plus the extension's functions,
    // none of the names earlier suites may have registered
    val fresh = spark.newSession()
    val calls = Map(
      "replace_prefixes_fast" -> ("'http://www.wikidata.org/entity/Q42'", "wd:Q42"),
      "scaled_dot_fast" -> ("cast(array(1.0, 2.0) as array<float>), cast(array(3.0, 0.5) as array<float>)",
        4000000L),
      "int8_dot_fast" -> ("X'017F', X'0301'", 130L),
      "cosine_fast" -> ("cast(array(3.0, 4.0) as array<float>), cast(array(3.0, 4.0) as array<float>)", 1.0),
      "sig_agree_fast" -> ("array(1L, 2L, 3L), array(1L, 5L, 3L, 9L)", 2))
    assert(NativeKernels.table.map(_._1.funcName).toSet == calls.keySet)
    for ((id, _, _) <- NativeKernels.table) {
      val (args, want) = calls(id.funcName)
      assert(fresh.sql(s"SELECT ${id.funcName}($args)").head().get(0) == want, id.funcName)
      val extra = intercept[Exception](fresh.sql(s"SELECT ${id.funcName}($args, $args)").head())
      assert(extra.getMessage.contains(s"${id.funcName} takes"), extra.getMessage)
    }
  }

  test("no operator call re-registers a native kernel") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    val ids = NativeKernels.table.map(_._1)
    ids.foreach(registry.dropFunction)
    import s.implicits._
    val emb = Tables.read(s, sfDir, "embeddings").select($"vec_id", $"embedding")
    val q = emb.select($"embedding").as[Array[Float]].head()
    val docs = Seq((1L, "a b c d e f g h i j k"), (2L, "a b c d e f g h i j x")).toDF("doc_id", "text")
    // a registration stores a new (info, builder) entry even when the
    // builder is the same non-capturing lambda, so both must stay the same
    def round(): Seq[(AnyRef, AnyRef)] = {
      Queries.q11PrefixReplace(s, sfDir)
      Queries.q48AnnNative(s, sfDir)
      Queries.q56EmbedLink(s, sfDir)
      for (layout <- Seq(Ann.flat, Ann.int8))
        Ann.topK(s, layout, Ann.encoded(s, layout, emb, "vec_id", "embedding", q.length),
          "vec_id", "embedding", q, 5)
      Dedup.minHashCandidates(s, Dedup.minHashSignatures(s, docs, "doc_id", "text"))
      Dedup.nearDupPairs(s, emb, "vec_id", "embedding")
      ids.map(id => (registry.lookupFunction(id).get, registry.lookupFunctionBuilder(id).get))
    }
    val first = round()
    val second = round()
    ids.zip(first.zip(second)).foreach { case (id, ((info1, build1), (info2, build2))) =>
      assert((info1 eq info2) && (build1 eq build2), s"${id.funcName} was re-registered")
    }
  }
}

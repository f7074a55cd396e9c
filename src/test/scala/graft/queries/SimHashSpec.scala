package graft.queries

import graft.SparkSpec

/** The native simhash60 expression must reproduce the explode+groupBy
  * pipeline it replaced bit-for-bit (same tokenization including empty
  * tokens, same md5-prefix hash, same vote/threshold rule) — that legacy
  * pipeline is itself pinned to the DuckDB oracle by the registry gate,
  * so equality here transfers the oracle proof to the native path. */
class SimHashSpec extends SparkSpec {

  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup
    (3L, "the quick brown fox jumped over the lazy dog"), // near dup
    (4L, "completely different content with other words entirely"),
    (5L, "double  space and trailing space "), // empty tokens: inner + trailing
    (6L, " leading space"), // empty first token
    (7L, "single"),
    (8L, ""), // one empty token (split('', ' ') = [""])
    (9L, "unicode tökens säme spāce handling éè"),
    (10L, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
    (11L, null.asInstanceOf[String]) // NULL text: both formulations must DROP the doc
  ).toDF("doc_id", "text")

  test("simhash60 bit-matches the legacy explode+groupBy pipeline") {
    graft.functions.GraftFunctions.register(spark)
    val native = TextOps.simhashDf(docs).as[(Long, Long)].collect().toMap
    val legacy = TextOps.simhashDfLegacy(docs).as[(Long, Long)].collect().toMap
    assert(native.keySet === legacy.keySet)
    // row-SET equivalence, not just per-row bits: the NULL-text doc must
    // be absent from both frames (legacy drops it via explode-of-null;
    // the native projection filters it) — pins the ADVICE r11 hole
    assert(!native.keySet.contains(11L))
    for ((id, sh) <- legacy)
      assert(native(id) === sh, s"doc $id: native ${native(id)} != legacy $sh")
    // exact duplicates must collide; the near-dup must stay within the
    // banding design's Hamming radius of its original
    assert(native(1L) === native(2L))
    assert(java.lang.Long.bitCount(native(1L) ^ native(3L)) <= 3)
  }

  test("interpreted eval agrees with codegen") {
    graft.functions.GraftFunctions.register(spark)
    val gen = TextOps.simhashDf(docs).as[(Long, Long)].collect().toMap
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = TextOps.simhashDf(docs).as[(Long, Long)].collect().toMap
      assert(interp === gen)
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}

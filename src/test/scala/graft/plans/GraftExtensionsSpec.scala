package graft.plans

import graft.SparkTestSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one-conf-line deployment path: a session built with
  * `.withExtensions(new GraftExtensions)` must expose the SQL functions
  * and the replay strategy with no API-side registration calls. */
class GraftExtensionsSpec extends AnyFunSuite {
  lazy val base = SparkTestSession.spark

  test("extensions session exposes bbo SQL functions and the strategy") {
    val _ = base // ensure the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val spark = graft.GraftSession.builder(SparkTestSession.Cores)
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      import spark.implicits._
      Seq((1L, 0L, true, 10L, 5L), (2L, 0L, false, 12L, 3L), (3L, 0L, true, 11L, 2L))
        .toDF("seq", "product", "is_bid", "price", "qty")
        .createOrReplaceTempView("ext_stream")
      // SQL function injected by the extension — no registerAll call
      val out = spark.sql(
        """SELECT seq, bbo_from_price_updates(price, qty, is_bid, 1) OVER (
          |  PARTITION BY product ORDER BY seq
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bbo
          |FROM ext_stream""".stripMargin)
        .select(col("seq"), col("bbo.bid_price_1")).orderBy("seq").collect()
      assert(out.length == 3 && out(2).getLong(1) == 11L)
      // strategy injected: plan a BboReplayNode DIRECTLY (bypassing the
      // operator API, which would lazily register the strategy itself) —
      // planning only succeeds if the extension injected it
      import org.apache.spark.sql.catalyst.expressions.Cast
      import org.apache.spark.sql.types.{BooleanType, LongType}
      val df = spark.table("ext_stream")
      val analyzed = df.queryExecution.analyzed
      def attr(n: String) = analyzed.output.find(_.name == n).get
      val node = BboReplayNode(0, 1,
        Cast(attr("price"), LongType), Cast(attr("qty"), LongType),
        Cast(attr("is_bid"), BooleanType), None, None, None, None,
        Seq(attr("product")), Seq(attr("seq")),
        BboReplayNode.mkBboAttrs(1), analyzed)
      val replayed = org.apache.spark.sql.GraftColumnBridge.ofRows(spark, node)
        .orderBy("seq").collect()
      assert(replayed.length == 3)
      val dot = spark.sql("SELECT long_array_dot(array(1L, 2L), array(10L, 20L)) AS d")
        .collect()(0).getLong(0)
      assert(dot == 50L)
      // the rolling shingle-hash kernel is SQL-callable too, and agrees
      // with the Column API form
      val viaSql = spark.sql(
        "SELECT token_shingle_hashes('a b c d', 3) AS hs")
        .collect()(0).getSeq[Long](0)
      val viaApi = spark.range(1).select(
        graft.functions.TokenShingleHash.shingleHashes(lit("a b c d"), 3).as("hs"))
        .collect()(0).getSeq[Long](0)
      assert(viaSql == viaApi && viaSql.length == 2)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("round-6 kernels are SQL-callable and agree with the Scala APIs") {
    val spark = base
    import spark.implicits._
    graft.functions.GraftFunctions.registerAll(spark)
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a b"), (3L, "")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("sql_surface_docs")

    // simhash48: SQL struct == DataFrame-level operator output
    val shSql = spark.sql(
      "SELECT doc_id, simhash48(text).simhash AS s, simhash48(text).n_tok AS n " +
        "FROM sql_surface_docs")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val shApi = graft.pipeline.DedupOps.simhash48WithCount(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(shSql == shApi)

    // minhash_signature: the SQL registration duplicates the permutation
    // constants that live with their oracle in DedupOps — this equality
    // is what pins the two copies together
    val mhSql = spark.sql(
      "SELECT doc_id, minhash_signature(text, 3, 12) AS sig FROM sql_surface_docs")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val mhApi = docs.select(col("doc_id"),
        graft.pipeline.DedupOps.minhashSignature(col("text"), 3, 12).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(mhSql == mhApi)

    // lsh_bucket over a scaled vector
    val vecs = Seq((1L, Seq(1.0f, -2.0f, 0.5f))).toDF("id", "v")
    vecs.createOrReplaceTempView("sql_surface_vecs")
    val lbApi = vecs.select(graft.pipeline.SimilarityOps
        .lshBucket(col("v"), 6).as("b")).collect()(0).getLong(0)
    val lbSql = spark.sql(
      "SELECT lsh_bucket(transform(v, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)), 6) AS b " +
        "FROM sql_surface_vecs").collect()(0).getLong(0)
    assert(lbSql == lbApi)

    // min_k: the bounded min-K aggregate groups and partial-aggregates
    // through SQL like any builtin aggregate
    Seq((1L, 9L), (1L, 3L), (1L, 7L), (1L, 1L), (2L, 5L))
      .toDF("g", "v").createOrReplaceTempView("sql_surface_mink")
    val mkSql = spark.sql(
      "SELECT g, min_k(v, 2) AS ks FROM sql_surface_mink GROUP BY g ORDER BY g")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(mkSql == Map(1L -> List(1L, 3L), 2L -> List(5L)))
  }
}

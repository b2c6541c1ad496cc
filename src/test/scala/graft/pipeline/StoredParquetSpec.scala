package graft.pipeline

import graft.SparkTestSession
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.scalatest.funsuite.AnyFunSuite

/** The footer-schema reader behind every stored-artifact read: it must
  * give the schema Spark's inference gives, keep the meta retry's
  * missing-path signature, and fall back to inference whenever the
  * footer cannot answer. */
class StoredParquetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_stored_$tag").toString

  test("footer schema ≡ Spark's inferred schema for every relation of a " +
    "positional index, across a two-epoch window") {
    val dir = tmp("kinds")
    val docs = (0L to 11L).map(i => (i, s"w${i % 3} w${i % 5} common"))
    RetrievalOps.writeRetrievalIndex(docs.take(8).toDF("doc_id", "text"),
      "text", "doc_id", dir, withPositions = true)
    RetrievalOps.appendRetrievalIndex(spark, dir,
      docs.drop(8).toDF("doc_id", "text"), "text", "doc_id")
    val rels = Seq("postings", "docs", "positions", "termstats", "blockstats")
      .map(r => Seq(s"$dir/$r/e0", s"$dir/$r/e1")) :+ Seq(s"$dir/meta")
    rels.foreach { ds =>
      val fromFooter = StoredParquet.footerSchema(spark, ds)
      assert(fromFooter.isDefined, s"no Spark schema key in $ds")
      val read = StoredParquet.read(spark, ds: _*)
      val inferred = spark.read.parquet(ds: _*)
      assert(read.schema == inferred.schema, s"schema differs for $ds")
      assert(read.collect().toSet == inferred.collect().toSet)
    }
  }

  test("footer schema ≡ Spark's inferred schema for a bloom-words " +
    "relation, and the bloom read runs no schema inference") {
    val dir = s"${tmp("bloom")}/bloom"
    val bits = Array(0L, -1L, 0x5a5aL, Long.MinValue)
    MetaIO.writeBloomWords(spark, bits, dir)
    assert(StoredParquet.read(spark, dir).schema ==
      spark.read.parquet(dir).schema)
    val (words, jobs) = org.apache.spark.JobRecorder.record(
      spark.sparkContext)(MetaIO.readBloomWords(spark, dir, 64 * bits.length))
    assert(words.toSeq == bits.toSeq)
    assert(!jobs.flatten.exists(_.startsWith("parquet at")),
      s"a schema-inference job ran: $jobs")
  }

  test("a meta written before termstats existed still reads, with its " +
    "flags false") {
    val dir = tmp("oldmeta")
    Seq((0L, 0L, 10L, 40L, -1L))
      .toDF("epoch", "base", "n_docs", "total_tokens", "last_batch_id")
      .coalesce(1).write.parquet(s"$dir/meta")
    val m = RetrievalOps.readRetrievalIndexMeta(spark, dir)
    assert(m == RetrievalOps.RetrievalIndexMeta(epoch = 0L, base = 0L,
      nDocs = 10L, totalTokens = 40L))
    assert(!m.hasPositions && !m.hasTermstats && m.blockCount == 0L)
  }

  test("a missing meta directory still gives the labelled no-readable-" +
    "meta error, after the retry") {
    val dir = tmp("nometa")
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException] {
      MetaIO.readMetaRow(spark, dir, "retrieval index", "index")
    }
    assert((System.nanoTime() - t0) / 1000000L >= 200L,
      "the swap-window retry must run before the error")
    assert(err.getMessage.contains("retrieval index") &&
      err.getMessage.contains("no readable meta"), err.getMessage)
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.io.FileNotFoundException]))
  }

  test("a relation without Spark's schema key, or with schema merging " +
    "on, falls back to inference") {
    val dir = tmp("nokey")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 x; required binary s (UTF8); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/part-00000.parquet"))
      .withConf(spark.sessionState.newHadoopConf()).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try Seq(1L -> "a", 2L -> "b").foreach { case (x, s) =>
      w.write(groups.newGroup().append("x", x).append("s", s))
    } finally w.close()
    assert(StoredParquet.footerSchema(spark, Seq(dir)).isEmpty)
    val df = StoredParquet.read(spark, dir)
    assert(df.schema == spark.read.parquet(dir).schema)
    assert(df.as[(Long, String)].collect().toSet == Set(1L -> "a", 2L -> "b"))

    val sparkDir = s"${tmp("merge")}/rel"
    Seq((1L, "a")).toDF("x", "s").coalesce(1).write.parquet(sparkDir)
    assert(StoredParquet.footerSchema(spark, Seq(sparkDir)).isDefined)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(StoredParquet.footerSchema(spark, Seq(sparkDir)).isEmpty)
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }
}

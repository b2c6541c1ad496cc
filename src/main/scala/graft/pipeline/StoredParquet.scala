package graft.pipeline

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}

/** Reads a parquet relation this engine wrote, without Spark's schema
  * inference job. `spark.read.parquet` infers the schema by running a
  * Spark job that opens one footer, even for a one-file relation. Every
  * relation here is written by Spark, so each data file's footer already
  * carries Spark's own schema under
  * [[ParquetReadSupport.SPARK_METADATA_KEY]]. This reads the key on the
  * driver, from the first data file listed in the first directory that
  * holds one, and hands the schema to `spark.read.schema`.
  *
  * That file need not be the one inference would open, and its listing
  * is separate from the scan's. Both are sound because every file of a
  * stored relation has one schema: one writer writes every epoch of it.
  * A relation whose files disagree must be read with `mergeSchema` on,
  * which this reader leaves to Spark.
  *
  * Plain `spark.read.parquet` stays in charge when the footer has no
  * such key (a file another writer made), when no directory holds a
  * data file, and when `spark.sql.parquet.mergeSchema` is on. A missing
  * directory still fails with the `FileNotFoundException` that
  * [[MetaIO.readMetaRow]] retries across its swap window. */
private[graft] object StoredParquet {

  def read(spark: SparkSession, dirs: String*): DataFrame =
    footerSchema(spark, dirs) match {
      case Some(s) => spark.read.schema(s).parquet(dirs: _*)
      case None => spark.read.parquet(dirs: _*)
    }

  /** Spark's schema from the footer of the relation's first data file. */
  private[graft] def footerSchema(spark: SparkSession,
                                  dirs: Seq[String]): Option[StructType] =
    if (spark.sessionState.conf.getConf(SQLConf.PARQUET_SCHEMA_MERGING_ENABLED)) None
    else {
      val hconf = spark.sessionState.newHadoopConf()
      dirs.iterator.flatMap { d =>
        val p = new Path(d)
        p.getFileSystem(hconf).listStatus(p).find(isDataFile)
      }.nextOption().flatMap { st =>
        val opts = HadoopReadOptions.builder(hconf)
          .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, hconf), opts)
        val json = try reader.getFileMetaData.getKeyValueMetaData
          .get(ParquetReadSupport.SPARK_METADATA_KEY)
        finally reader.close()
        Option(json).flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption)
          .collect { case s: StructType => s }
      }
    }

  /** A data file, as Spark lists one: not `_SUCCESS`, not hidden. */
  private[pipeline] def isDataFile(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    st.isFile && !n.startsWith("_") && !n.startsWith(".")
  }
}

package graft.sources

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * The one reader of the engine's input tables (`<dir>/<name>.parquet`).
 *
 * A schema-less `read.parquet` infers the schema on every call, and Spark
 * runs one job to do it (the footer merge goes through `parallelize` even
 * for a single file): about 0.1 s at local[4] on a 4-core machine, where a
 * whole fixture-scale query takes 0.2–0.3 s. Here the schema Spark inferred
 * is kept per path together with a fingerprint of the path's leaf-file
 * listing (path, length and modification time of each file) and of the
 * session's explicitly set `spark.sql.parquet.*` options, which steer
 * inference. A matching fingerprint reads with the kept schema and starts
 * no job; any change re-infers. No schema is ever declared by hand: a wrong
 * declared schema would read as silent nulls.
 *
 * Paths that are freshly written on every call (lake stages, sinks) would
 * always miss and stay on plain `read.parquet`.
 */
object Tables {

  /** Leaf files (path, length, modification time) and parquet options. */
  private type Fingerprint = (Seq[(String, Long, Long)], Seq[(String, String)])
  private final case class Entry(fingerprint: Fingerprint, schema: StructType)

  private val memo = new ConcurrentHashMap[String, Entry]()

  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    fingerprint(spark, path) match {
      case None => spark.read.parquet(path) // missing path: Spark's own error
      case Some(fp) => Option(memo.get(path)) match {
        case Some(e) if e.fingerprint == fp => spark.read.schema(e.schema).parquet(path)
        case _ =>
          val df = spark.read.parquet(path)
          memo.put(path, Entry(fp, df.schema))
          df
      }
    }
  }

  private def fingerprint(spark: SparkSession, path: String): Option[Fingerprint] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // listStatus, not listFiles: the located statuses listFiles builds read
    // each file's permissions, which the local file system, without the
    // native Hadoop library, gets from a child process per file (measured
    // 3.5 ms a file on a 4-core machine, against 0.05 ms for the listing)
    def leaves(st: FileStatus): Seq[(String, Long, Long)] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves)
      else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    val opts = spark.conf.getAll.filter(_._1.startsWith("spark.sql.parquet.")).toSeq.sorted
    try Some((leaves(fs.getFileStatus(p)).sorted, opts))
    catch { case _: FileNotFoundException => None }
  }
}

package graft.streaming

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scratch staging for the file-stream sources: the test layout exposes
  * each table as `<dir>/<table>.parquet`, which may be a single parquet
  * FILE (driver testdata) or a flat parquet DIRECTORY of part files
  * (any Spark-written unpartitioned table). The file-stream source
  * needs a directory of data files and does NOT recurse into a
  * symlinked subdirectory, so each data file is staged as its own
  * top-level symlink. A `partitionBy` layout is REFUSED, not flattened:
  * the partition column's values live only in the `key=value` directory
  * names, so flattening would stream every row with that column NULL —
  * batch-correct, stream-silently-wrong. The scratch dir is per-call
  * and removed with its links at JVM exit ([[graft.sources.Scratch]]).
  * A real deployment points the stream straight at its
  * landing directory and never takes this path. */
object Staging {

  /** Streaming read of `<dir>/<table>.parquet` through a staged scratch
    * directory, with the batch read's schema — the one file-stream
    * source behind every twin. */
  def read(spark: SparkSession, dir: String, table: String): DataFrame = {
    val streamDir = stageParquet(dir, table)
    val schema = spark.read.parquet(s"$dir/$table.parquet").schema
    spark.readStream.schema(schema).parquet(streamDir)
  }

  /** Returns the scratch directory to hand to `readStream.parquet`.
    * Fails loudly when the source yields ZERO data files (e.g. an
    * interrupted write that left only _SUCCESS) — a file stream over an
    * empty scratch dir would silently answer 0 rows to every query —
    * and when the source is a `key=value` partitioned layout (see
    * object doc: flattening would NULL the partition column). */
  def stageParquet(dir: String, table: String): String = {
    val src = Paths.get(s"$dir/$table.parquet")
    val dataFiles: List[Path] =
      if (Files.isDirectory(src)) {
        val s = Files.list(src)
        val entries = try s.iterator().asScala.toList finally s.close()
        val partDirs = entries.filter(p =>
          Files.isDirectory(p) && p.getFileName.toString.contains("="))
        require(partDirs.isEmpty,
          s"stageParquet: $src is a partitionBy layout (${partDirs.head.getFileName} …) — " +
            "flat-staging would stream the partition column as NULL; " +
            "point the stream at an unpartitioned landing copy instead")
        // nested NON-partition dirs are refused too: staging only the
        // top level would silently stream fewer rows than the batch read
        // (which recurses) — the failure mode this object exists to avoid.
        // Hidden/metadata dirs (_spark_metadata, .tmp…) are exempt: Spark
        // readers skip them, so dropping them loses no rows.
        val nestedDirs = entries.filter(p => Files.isDirectory(p) && {
          val n = p.getFileName.toString
          !n.startsWith("_") && !n.startsWith(".")
        })
        require(nestedDirs.isEmpty,
          s"stageParquet: $src contains nested director${if (nestedDirs.size == 1) "y" else "ies"} " +
            s"(${nestedDirs.head.getFileName} …) whose files flat staging would drop; " +
            "flatten the layout or point the stream at the nested directory directly")
        entries.filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
      } else List(src)
    require(dataFiles.nonEmpty,
      s"stageParquet: no .parquet data files under $src — " +
        "refusing to stage an empty stream source")
    val streamDir = graft.sources.Scratch.dir(s"graft-stream-$table")
    dataFiles.zipWithIndex.foreach { case (f, i) =>
      Files.createSymbolicLink(streamDir.resolve(f"part-$i%05d.parquet"), f)
    }
    streamDir.toString
  }
}

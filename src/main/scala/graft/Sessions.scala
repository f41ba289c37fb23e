package graft

import org.apache.spark.sql.SparkSession

/** The one local session factory. `Bench`, `Verify`, the dev tools and
  * the specs all build their session here, so a number measured under
  * one of them holds under the others. */
object Sessions {

  /** `SPARK_GRAFT_CPUS` when set, else the cores this JVM may use. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // The sf0.1 tables are single ~1-10 MB parquet files; at the default
      // 128 MB split size every SCAN stage runs as ONE task and the
      // aggregate-heavy queries serialize on it. 1 MB splits spread the
      // scan across the cores — the knob a real cluster tunes to its own
      // file sizes (the guideline: partitions sized to the data, not the
      // default).
      .config("spark.sql.files.maxPartitionBytes", "1048576")
      .config("spark.sql.files.openCostInBytes", "262144")
      // The engine-wide timestamp contract (see Tables.events): UTC zone
      // pinned at build, nanos escape hatch on in case the generator
      // reverts events.ts to TIMESTAMP(NANOS).
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

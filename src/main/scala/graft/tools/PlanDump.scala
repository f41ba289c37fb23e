package graft.tools

/** Dev-only plan dumper: writes `.explain("formatted")` of named declared
  * queries to <outDir>/<name>_<tag>.txt under the bench session config.
  * Not part of the driver contract.
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> [tag] [q1,q2,...]
  * (tag defaults to `before`, the query list to every declared key).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <sfDir> <outDir> [tag] [q1,q2,...]")
    val Array(sfDir, outDir) = args.take(2)
    val tag = args.lift(2).getOrElse("before")
    val names: Seq[String] = args.lift(3) match {
      case Some(csv) => csv.split(",").toSeq
      case None => graft.SparkEntry.queries.keys.toSeq.sorted
    }
    val spark = graft.Sessions.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      graft.SparkEntry.queries.get(n) match {
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            val pw = new java.io.PrintWriter(s"$outDir/${n}_$tag.txt")
            pw.println(plan)
            pw.close()
            println(s"PLAN $n -> $outDir/${n}_$tag.txt (${plan.length} chars)")
          } catch {
            case e: Throwable => println(s"PLAN $n FAILED: ${e.getMessage}")
          }
        case None => println(s"PLAN $n: no such query")
      }
    }
    spark.stop()
  }
}

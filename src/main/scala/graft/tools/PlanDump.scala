package graft.tools

/** Dev-only plan dumper: writes `.explain("formatted")` of named declared
  * queries to <outDir>/<name>_<tag>.txt under the bench session config.
  * Not part of the driver contract.
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> [tag] [q1,q2,...]
  * (tag defaults to `before`, the query list to every declared key).
  * Every key is attempted; a key that throws or is not declared is
  * named on stderr, and the run then exits 1.
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
    // an undeclared key throws NoSuchElementException naming it
    val failed = names.filterNot { n =>
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val pw = new java.io.PrintWriter(s"$outDir/${n}_$tag.txt")
        pw.println(plan)
        pw.close()
        println(s"PLAN $n -> $outDir/${n}_$tag.txt (${plan.length} chars)")
        true
      } catch {
        case e: Exception =>
          System.err.println(s"PLAN $n FAILED: $e")
          false
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"PlanDump: ${failed.size} of ${names.size} keys failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}

package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark's own tests, run with `python3 edwbench/run.py --selftest`.
  * Each check prints `ok` or `FAIL` with its name; the exit code is the
  * number of failures. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case e: Throwable =>
        failures += 1
        println(s"FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  private def frame(spark: SparkSession) =
    spark.range(0, 5000, 1, 7).select(
      col("id"),
      (col("id") % 13).cast("int").as("k"),
      (col("id") / 7.0).as("x"),
      when(col("id") % 11 === 0, lit(null)).otherwise(concat(lit("s"), col("id"))).as("s"),
      (col("id") * 3 % 1000).cast("decimal(20,4)").as("dec"),
      array(col("id"), col("id") + 1).as("arr"),
      map(lit("a"), col("id")).as("m"),
      struct(col("id").as("a"), (col("id") % 2 === 0).as("b")).as("st"))

  def run(cores: Int, scratch: String, dataDir: String): Int = {
    val spark = Main.session(cores, scratch)

    check("digest is unchanged by row order and partition count") {
      val df = frame(spark)
      val base = Digest.of(df)
      assert(base.rows == 5000, s"rows ${base.rows}")
      assert(Digest.of(df.repartition(1)) == base, "1 partition")
      assert(Digest.of(df.repartition(cores)) == base, s"$cores partitions")
      assert(Digest.of(df.orderBy(col("id").desc)) == base, "reversed order")
    }

    check("digest of an aggregate is unchanged by shuffle partitions 1 vs nproc") {
      def agg() = frame(spark).groupBy("k")
        .agg(sum("x").as("sx"), count(lit(1)).as("n"), collect_set("k").as("ks"))
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      val one = Digest.of(agg())
      spark.conf.set("spark.sql.shuffle.partitions", cores.toString)
      val many = Digest.of(agg())
      assert(one == many, s"$one vs $many")
    }

    check("digest changes with a value, a row, a column name") {
      val df = frame(spark)
      val base = Digest.of(df)
      assert(Digest.of(df.withColumn("k", col("k") + 1)) != base, "changed value")
      assert(Digest.of(df.filter(col("id") =!= 17)) != base, "dropped row")
      assert(Digest.of(df.withColumnRenamed("k", "kk")) != base, "renamed column")
    }

    check("doubles that differ in the last bits digest equal") {
      val a = 0.1 + 0.2
      assert(Digest.canonDouble(a) == Digest.canonDouble(0.3), s"$a vs 0.3")
      assert(Digest.canonDouble(-0.0) == Digest.canonDouble(0.0), "signed zero")
      assert(Digest.canonDouble(0.3) != Digest.canonDouble(0.3001), "distinct values")
    }

    check("every listed key resolves in SparkEntry.queries") {
      Main.checkKeys(Workloads.all.flatMap(_.keys))
      val renamed = Key("q_no_such_key", "operators", materialise = false)
      val e = try { Main.checkKeys(Seq(renamed)); None }
      catch { case e: IllegalArgumentException => Some(e.getMessage) }
      assert(e.exists(_.contains("q_no_such_key")), s"renamed key not reported: $e")
    }

    check("a key that throws is counted and the run continues") {
      val runner = new Runner(spark, dataDir, s"$scratch/selftest-artifacts", new Tracer(None))
      val bad = runner.runKey(Key("q_no_such_key", "operators", materialise = false), 0, 1)
      val broken = new Runner(spark, s"$scratch/no-such-data", s"$scratch/selftest-artifacts",
        new Tracer(None)).runKey(Key("q_fact_sales", "operators", materialise = true), 0, 1)
      val good = runner.runKey(Key("q_fact_sales", "operators", materialise = true), 0, 1)
      assert(!bad.ok && bad.rows == -1, s"unknown key not counted: $bad")
      assert(!broken.ok && broken.rows == -1, s"throwing key not counted: $broken")
      assert(good.ok && good.rows > 0, s"next key did not run: ${good.error}")
    }

    check("listener counters are read after the bus has drained") {
      val counters = new Counters(spark.sparkContext)
      (1 to 20).foreach { i =>
        val before = counters.snapshot()
        spark.sparkContext.parallelize(1 to 100, 3 + i % 5).map(_ * 2).count()
        val d = counters.snapshot() - before
        assert(d.jobs == 1 && d.tasks == 3 + i % 5 && d.stages == 1, s"round $i: $d")
      }
    }

    spark.stop()
    println(s"${if (failures == 0) "all passed" else s"$failures failed"}")
    failures
  }
}

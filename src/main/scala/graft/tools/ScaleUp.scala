package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Dev-only data scaler: synthesizes an N×-scale copy of a test SF into
  * a target directory so the heavy operators can be profiled beyond the
  * largest driver-provided SF (sf0.1). NOT part of the shipped API and
  * never used by correctness queries — those run only on the
  * driver-provided parquet.
  *
  * Scaling preserves each table's workload SHAPE rather than stamping
  * identical copies (which would create pathological cross-copy
  * duplicates and quadratic dedup candidates):
  *  - keys are shifted per copy (orderkey/event_id/doc_id/vec_id), so
  *    grains stay unique and joins fan out linearly;
  *  - document tokens are suffixed per copy (regexp word salt), so
  *    shingle spaces of different copies are disjoint — near-dup
  *    structure scales linearly, exactly like ingesting more sources;
  *  - embeddings get a small per-copy deterministic perturbation, so no
  *    cross-copy zero-distance pairs exist;
  *  - users/customers are shifted too (more entities, same per-entity
  *    activity — the realistic growth axis for event analytics).
  *
  * Usage: runMain graft.tools.ScaleUp <srcSfDir> <dstDir> <factor>
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, factorS) = args.take(3)
    val factor = factorS.toInt
    val spark = graft.Sessions.local()
    new java.io.File(dst).mkdirs()

    def raw(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$dst/$name.parquet")

    // small dims: copy through unchanged
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => write(raw(t), t))

    def copies(df: DataFrame, f: Int => DataFrame): DataFrame =
      (0 until factor).map(f).reduce(_.unionByName(_))

    val maxOrder = raw("orders").agg(max("o_orderkey")).head.getLong(0)
    write(copies(raw("orders"), i => raw("orders")
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * maxOrder))), "orders")
    write(copies(raw("lineitem"), i => raw("lineitem")
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * maxOrder))), "lineitem")

    val ev = raw("events") // ts read as long (ns) — written back as long
    val Seq(maxEvent, maxUser) = ev.agg(max("event_id"), max("user_id"))
      .head.toSeq.map(_.asInstanceOf[Long]).toSeq
    write(copies(ev, i => ev
      .withColumn("event_id", col("event_id") + lit(i * maxEvent))
      .withColumn("user_id", col("user_id") + lit(i * maxUser))), "events")

    val docs = raw("documents")
    val maxDoc = docs.agg(max("doc_id")).head.getLong(0)
    write(copies(docs, i => docs
      .withColumn("doc_id", col("doc_id") + lit(i * maxDoc))
      // copy 0 keeps the original text; later copies salt every token so
      // their shingle space is disjoint from every other copy's
      .withColumn("text",
        if (i == 0) col("text")
        else regexp_replace(col("text"), "(\\w+)", s"$$1x$i"))), "documents")

    val emb = raw("embeddings")
    val maxVec = emb.agg(max("vec_id")).head.getLong(0)
    write(copies(emb, i => emb
      .withColumn("vec_id", col("vec_id") + lit(i * maxVec))
      .withColumn("embedding",
        if (i == 0) col("embedding")
        else expr(s"transform(embedding, (x, j) -> cast(x + 0.003d * $i * ((j % 5) - 2) as float))"))),
      "embeddings")

    Seq("orders", "lineitem", "events", "documents", "embeddings").foreach { t =>
      println(s"SCALED $t rows=" + spark.read.parquet(s"$dst/$t.parquet").count())
    }
    spark.stop()
  }
}

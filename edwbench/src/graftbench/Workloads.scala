package graftbench

/** One query key of a workload. `module` is the graft module that
  * registers it; `materialise` keys are written with `saveLarge` and read
  * back with `loadLarge` before their digest is taken. */
final case class Key(name: String, module: String, materialise: Boolean)

final case class Workload(name: String, keys: Seq[Key])

object Workloads {
  private def keys(module: String, materialise: Boolean)(names: String*): Seq[Key] =
    names.map(Key(_, module, materialise))

  /** The reference's nightly job: dbt builds (staging, dimension, fact and
    * SCD2, materialised) and a data-quality check, then the ML platform's
    * feature and monitoring queries over the events stream (small
    * multi-job queries, read-only). */
  val warehouseNightly: Workload = Workload("warehouse_nightly",
    keys("operators", materialise = true)(
      "q_staging_clean", "q_dim_customer", "q_fact_sales",  // graft.operators.Warehouse
      "q_scd2_build") ++                                    // graft.operators.Scd2
      keys("operators", materialise = false)(
        "q_dq_expectations") ++                             // graft.operators.Quality
      keys("ml", materialise = false)(
        "q_rfm_features", "q_sessionize", "q_psi_drift",    // graft.ml.Features
        "q_model_perf"))                                    // graft.ml.Monitoring

  /** The LLM-data path: dedup, tokenizer training, chunk index build and
    * serve. Iterative loops with jobs in every round. */
  val corpusRag: Workload = Workload("corpus_rag",
    keys("dedup", materialise = false)("q_dedup_survivors") ++
      keys("text", materialise = false)("q_bpe_train") ++
      keys("ann", materialise = false)("q_chunk_serve"))

  val all: Seq[Workload] = Seq(warehouseNightly, corpusRag)

  /** Modules that get per-layer call metrics. */
  val modules: Seq[String] = Seq("operators", "ml", "dedup", "text", "ann")

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name'; known: ${all.map(_.name).mkString(", ")}"))
}

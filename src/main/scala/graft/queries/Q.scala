package graft.queries

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: the Spark implementation plus (when the semantics are
  * SQL-expressible) the DuckDB oracle the driver replays at sf0.01
  * (SURVEY §0 "operational consequence", §5.2). Queries without an oracle
  * get the driver's weaker rows-only check.
  *
  * Determinism contract (SURVEY §2.9-bis): every query ends in ORDER BY on
  * a unique key combination; floating aggregates are rounded or computed
  * in decimal; collected arrays are sorted; "first" is always min_by.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle))
  def noOracle(name: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, None)

  /** A fresh temporary directory for a stateful face's on-disk store,
    * deleted with everything under it when the JVM exits. The frame a
    * face returns reads its store lazily, so the store has to outlive
    * the query fn — a `finally` would delete it before the caller runs
    * the frame. Named after the JDK call it wraps, so each call site
    * still reads as an in-query lifecycle (the `lifecycleFaces` gate in
    * SparkEntrySpec finds them by that name). */
  def createTempDirectory(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    storeDirs.add(dir)
    dir.toString
  }

  private val storeDirs: java.util.Queue[Path] = {
    val dirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
    sys.addShutdownHook(dirs.forEach(d => FileUtils.deleteQuietly(d.toFile)))
    dirs
  }

  /** The PERMANENT demo-face policy (round-11 verdict item 6, decided
    * round 12): every oracle-less declared query is the PRODUCTION-hash
    * face (xxhash64 / engine-float arithmetic — deliberately not
    * SQL-replayable) of an oracle-gated sibling that pins the identical
    * implementation under a cross-engine hash family or quantization.
    * The faces STAY in the registry — they are what a user actually
    * runs, the driver's rows-check still executes them tri-scale, and
    * their specs pin semantics — but they are not correctness gaps:
    * the map below IS the ledger row, enforced by SparkEntrySpec (a
    * new no-oracle query must either get an oracle or register its
    * gated sibling here). */
  /** DECLARED-PRICE faces (r18, the BASELINE.md lane decision): queries
    * whose bench cost is a self-imposed verification price, not engine
    * throughput — either a disk-state-machine LIFECYCLE run in-query
    * (bootstrap + batches + read-back so the oracle can replay the
    * whole fold) or an exact CONTRACT replay gating a sketch whose
    * production face is elsewhere. `graft.Bench` skips them under
    * SPARK_GRAFT_BENCH_SKIP_DECLARED=1 — a measurement INSTRUMENT for
    * engine-lane numbers, NOT a second record: the committed per-query
    * map stays the single cross-round artifact and both lane totals
    * are derivable from it (see BASELINE.md). Membership is checked
    * against the registry by SparkEntrySpec. */
  val lifecycleFaces: Set[String] = Set(
    "llm_dedup_stream", "llm_dedup_probe", "llm_host_canon_stream",
    "stream_cdc_evolve", "stream_cdc_read_latest", "stream_cdc_read_asof",
    "stream_cdc_read_keys", "src_shard_jsonl", "llm_pq_persist",
    "llm_ann_probe", "llm_ann_probe_filtered")
  val contractFaces: Set[String] = Set(
    "llm_distinct_n", "llm_distinct_n_approx", "llm_backoff_score",
    "agg_approx", "agg_hll_merge", "agg_cms_merge", "op_profile",
    "agg_quantile_merge")
  val declaredPriceFaces: Set[String] = lifecycleFaces ++ contractFaces

  val demoFaces: Map[String, String] = Map(
    "llm_ann_ivf"                -> "llm_ivf_pq",
    "llm_ann_lsh"                -> "llm_ann_lsh_q",
    "llm_compression"            -> "llm_compression_q",
    "llm_curate_full"            -> "llm_curate_full_poly",
    "llm_dedup_embed"            -> "llm_dedup_embed_q",
    "llm_dedup_incremental_near" -> "llm_dedup_incremental_near_poly",
    "llm_dedup_near"             -> "llm_dedup_near_poly",
    "llm_dedup_simhash"          -> "llm_dedup_simhash_poly",
    "llm_fingerprint"            -> "llm_fingerprint_poly",
    "llm_ivf_train"              -> "llm_ivf_train_poly",
    "llm_semdedup"               -> "llm_semdedup_q"
  )
}

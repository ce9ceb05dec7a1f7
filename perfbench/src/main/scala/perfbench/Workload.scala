package perfbench

import org.apache.spark.sql.SparkSession

/** A named, fixed list of operations run in a closed loop: one client,
  * each operation starting when the previous one finished. */
trait Workload {
  def name: String
  /** Makes sure the inputs are present; part of the timed set-up. */
  def prepare(): Unit
  def ops: IndexedSeq[String]
  /** Runs `op` once untimed and checks its output; false = wrong. */
  def verify(op: String): Boolean
  /** How many operations may be verified at once. */
  def verifyThreads: Int = 1
  /** Runs `op` the way a timed pass does. Throws on failure. */
  def run(op: String, tr: Tracer): Unit
  /** Clean-up between operations: outside an operation's latency,
    * inside its pass's wall time. */
  def cleanup(): Unit = ()
  /** Untimed passes between verification and the timed passes. */
  def warmupPasses: Int = 1
  /** Input description for the result stamp. */
  def stamp: Seq[(String, String)]
  /** Width decade of a schema operation, for the per-decade metrics. */
  def decade(op: String): Option[String] = None
  /** Rows an operation migrates (0 if it migrates none). */
  def rows(op: String): Long = 0L
}

object Workload {
  def apply(name: String, spark: SparkSession, cfg: Config): Workload = name match {
    case "sf001_short" | "x10_scan" => new QueryWorkload(name, spark, cfg)
    case "schema_evolve" => new SchemaWorkload(spark, cfg)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** Paths and options shared by the workloads. `dataDir` holds the
  * committed base tables; `work` is the benchmark's own scratch tree. */
final case class Config(
    seed: Long,
    dataDir: String,
    x10Dir: String,
    work: String,
    expected: String,  // directory of `<dataset>.tsv` digest files
    smoke: Boolean)

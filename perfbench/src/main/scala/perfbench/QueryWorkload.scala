package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Query workloads: named `graft.SparkEntry` queries over a parquet
  * directory. A timed operation is build (the query function, including
  * its eager barriers), plan (forcing `executedPlan`) and execution of
  * that plan with every row discarded. */
final class QueryWorkload(val name: String, spark: SparkSession, cfg: Config) extends Workload {
  private val dir = if (name == "x10_scan") cfg.x10Dir else cfg.dataDir
  private val queries = graft.SparkEntry.queries

  val ops: IndexedSeq[String] = QueryWorkload.lists(name)

  /** Names the expected-digest file: the base directory's name, plus
    * `-x10` for the replica. */
  val dataset: String = new java.io.File(cfg.dataDir).getName + (if (name == "x10_scan") "-x10" else "")
  private lazy val expected: Map[String, String] = Digests.load(s"${cfg.expected}/$dataset.tsv")
  /** Digests seen in the verification pass (written by `--record`). */
  val seen = scala.collection.concurrent.TrieMap.empty[String, String]

  /** `ml_spearman_shuffle`'s concurrent chains keep getting faster for
    * more passes than the other queries: with one warm-up pass the
    * first timed pass of `sf001_short` was the slower of two in 9 runs
    * of 10, by 9% on average; with two, in 7 of 10, by 3.5%. */
  override def warmupPasses: Int = if (name == "sf001_short") 2 else 1

  /** Queries are independent: verify them on all cores at once. */
  override def verifyThreads: Int = math.min(ops.size, Runtime.getRuntime.availableProcessors)

  def prepare(): Unit =
    QueryWorkload.tables.foreach { t =>
      require(Files.isRegularFile(Paths.get(s"$dir/$t.parquet")), s"missing input $dir/$t.parquet")
    }

  /** Runs the query exactly as a timed operation does, except that the
    * executed plan's rows are hashed instead of discarded; so this pass
    * also warms up the code the timed passes run. */
  def verify(op: String): Boolean = {
    val df = queries(op)(spark, dir)
    val qe = df.queryExecution
    val d = SQLExecution.withNewExecutionId(qe, Some(op))(Digests.of(qe.toRdd, df.schema))
    seen(op) = d
    val ok = expected.get(op).contains(d)
    if (!ok) System.err.println(s"[perfbench] $op: digest $d, expected ${expected.getOrElse(op, "<none>")}")
    ok
  }

  def run(op: String, tr: Tracer): Unit = {
    val df = tr.span("build")(queries(op)(spark, dir))
    val qe = tr.span("plan") { val qe = df.queryExecution; qe.executedPlan; qe }
    tr.span("exec") {
      SQLExecution.withNewExecutionId(qe, Some(op))(qe.toRdd.foreach(_ => ()))
    }
  }

  /** Drops what a query left cached, so one operation's blocks never
    * slow the next (the same hygiene `graft.Bench` applies). */
  override def cleanup(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def stamp: Seq[(String, String)] = Seq("data_dir" -> dir) ++
    QueryWorkload.tables.map(t => t -> ParquetStats.describe(s"$dir/$t.parquet"))
}

object QueryWorkload {
  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Fixed operation lists. `sf001_short` is the per-query floor: the
    * driver gap between jobs is the largest share of the first five
    * queries' time, and they take about as long at sf0.001.
    * `q85_benford_audit` adds an eager checkpoint barrier, and
    * `ml_spearman_shuffle` a lineitem-sized `localCheckpoint` feeding
    * two rank chains that run at once through `graft.Par.run2`.
    * `x10_scan` runs the first three queries, whose time grows with the
    * rows, over ten times the rows. */
  val lists: Map[String, IndexedSeq[String]] = Map(
    "sf001_short" -> IndexedSeq(
      "q1_pricing_summary", "q3_top_orders", "text_quality", "dedup_exact",
      "q85_benford_audit", "ml_spearman_shuffle"),
    "x10_scan" -> IndexedSeq(
      "q1_pricing_summary", "q3_top_orders", "text_quality"))
}

/** Order-insensitive result digest: row count, the sum of per-row
  * hashes reduced mod 2^31-1, and their xor. A row's hash is XXH64 of
  * its `UnsafeRow` bytes, so it covers every column at every depth. */
object Digests {
  def of(rows: RDD[InternalRow], schema: StructType): String = {
    val parts = rows.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var sum = 0L
      var xor = 0L
      it.foreach { r =>
        val u = proj(r)
        val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        n += 1
        sum += java.lang.Math.floorMod(h, 2147483647L)
        xor ^= h
      }
      Iterator((n, sum, xor))
    }.collect()
    s"${parts.map(_._1).sum}:${parts.map(_._2).sum}:${parts.map(_._3).foldLeft(0L)(_ ^ _)}"
  }

  /** `query<TAB>digest` lines; `#` starts a comment. */
  def load(path: String): Map[String, String] =
    if (!Files.isRegularFile(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap
}

/** Row count and byte size of a parquet file or directory, read from
  * the parquet footers (no Spark job). */
object ParquetStats {
  def files(path: String): Seq[java.io.File] = {
    val f = new java.io.File(path)
    if (f.isDirectory) f.listFiles().toSeq.filter(x => x.getName.endsWith(".parquet")).sortBy(_.getName)
    else Seq(f)
  }

  def rows(path: String): Long = files(path).map { f =>
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.getAbsolutePath), new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }.sum

  def bytes(path: String): Long = files(path).map(_.length).sum

  def describe(path: String): String = s"${rows(path)} rows, ${bytes(path)} bytes"
}

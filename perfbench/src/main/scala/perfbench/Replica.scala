package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ten-fold replica `x10_scan` reads: the same transformation as
  * `graft.ScaleGen` with `docMutate` on (fact keys re-spaced per
  * replica, a per-replica offset on `l_quantity`, every fifth document
  * token tagged with its replica so the dedup banding does not
  * degenerate; dimensions copied once), applied to the committed base
  * tables. `graft.ScaleGen` itself reads a fixed base path, so the
  * benchmark applies its recipe here. One parquet file per table, like
  * the base data. Deterministic: it depends on the base tables only. */
object Replica {
  val Factor = 10

  def build(spark: SparkSession, base: String, out: String): Unit = {
    def writeOne(df: DataFrame, name: String): Unit = {
      val stage = s"$out/_stage_$name"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $stage"))
      val dest = Paths.get(s"$out/$name.parquet")
      Files.deleteIfExists(dest)
      Files.move(part.toPath, dest)
      new java.io.File(stage).listFiles().foreach(_.delete())
      Files.deleteIfExists(Paths.get(stage))
    }
    def replicate(name: String, keyCols: Seq[String], extra: DataFrame => DataFrame = identity): Unit = {
      val rep = graft.Tables.table(spark, base, name).crossJoin(spark.range(Factor).toDF("__rep"))
      val shifted = keyCols.foldLeft(rep)((d, k) => d.withColumn(k, col(k) + col("__rep") * 10000000L))
      writeOne(extra(shifted).drop("__rep"), name)
    }
    Files.createDirectories(Paths.get(out))
    replicate("lineitem", Seq("l_orderkey"),
      _.withColumn("l_quantity", col("l_quantity") + col("__rep").cast("double") / 1000.0))
    replicate("orders", Seq("o_orderkey"))
    replicate("documents", Seq("doc_id"), _.withColumn("text", expr(
      """concat_ws(' ', transform(split(text, ' '),
         (w, i) -> CASE WHEN i % 5 = 4 THEN concat(w, '~r', CAST(__rep AS STRING)) ELSE w END))""")))
    replicate("embeddings", Seq("vec_id"))
    replicate("events", Seq("event_id", "user_id"))
    for (dim <- Seq("customer", "region", "nation", "supplier", "part"))
      writeOne(graft.Tables.table(spark, base, dim), dim)
  }
}

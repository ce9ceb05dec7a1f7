package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** `--record`: writes the digests the verification pass saw as
  * `<work>/record/<dataset>.tsv`, and every query's rows as parquet
  * under `<work>/record/<dataset>/<query>/` with `oracle_sql.json`
  * beside them, the layout `tools/check.py` compares against the
  * DuckDB oracle (run it with `SPARK_GRAFT_SF_DIR` set to the data
  * directory). A checked `.tsv` is then copied to `perfbench/expected/`. */
object Record {
  def write(spark: SparkSession, wl: Workload, cfg: Config): Unit = wl match {
    case q: QueryWorkload =>
      val root = Paths.get(cfg.work, "record")
      val dump = root.resolve(q.dataset)
      Files.createDirectories(dump)
      Files.writeString(root.resolve(s"${q.dataset}.tsv"),
        q.ops.filter(q.seen.contains).map(k => s"$k\t${q.seen(k)}").mkString("", "\n", "\n"))
      val dir = if (q.name == "x10_scan") cfg.x10Dir else cfg.dataDir
      val oracle = graft.SparkEntry.oracleSql
      q.seen.keys.toSeq.sorted.foreach { n =>
        graft.SparkEntry.queries(n)(spark, dir).write.mode("overwrite").parquet(dump.resolve(n).toString)
      }
      Files.writeString(dump.resolve("oracle_sql.json"), Json.obj(q.seen.keys.toSeq.sorted
        .flatMap(n => oracle.get(n).map(sql => n -> Json.str(sql)))))
    case _ =>
  }
}

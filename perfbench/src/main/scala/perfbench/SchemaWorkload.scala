package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableChange}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schema._

/** One generated evolution: `current` is the live schema, `target`
  * the schema to reach. `kind` is the operation run on it. */
final case class SchemaPair(id: String, kind: String, width: Int, current: GSchema, target: GSchema)

/** The paper's own path, on a seed-generated corpus of schema pairs:
  *  - diff: load both Iceberg-JSON files, `SchemaDiff.byId`, the
  *    minimal-move detection, `Evolver.plan`, `Evolver.evolve` (apply
  *    fold and DDL render) and `Render.styledOps`; a dry run.
  *  - apply: `CreateTableDdl` on a catalog, `Evolver.executeDdl`, read
  *    the table back and re-diff it.
  *  - migrate: `Evolver.conform` of rows shaped like the current
  *    schema, written as parquet. */
final class SchemaWorkload(spark: SparkSession, cfg: Config) extends Workload {
  val name = "schema_evolve"
  private val dir = s"${cfg.work}/schemas"
  private val pairs: IndexedSeq[SchemaPair] = SchemaWorkload.corpus(cfg.seed, cfg.smoke)
  private val byId = pairs.map(p => p.id -> p).toMap
  val ops: IndexedSeq[String] = pairs.map(_.id)
  private val tables = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val tableNo = new java.util.concurrent.atomic.AtomicInteger()

  /** Pairs are independent (own files, own catalog table): verify them
    * on all cores at once. */
  override def verifyThreads: Int = Runtime.getRuntime.availableProcessors

  override def decade(op: String): Option[String] = Some(SchemaWorkload.decade(byId(op).width))
  override def rows(op: String): Long =
    if (byId(op).kind == "migrate") SchemaWorkload.migrateRows(cfg.smoke) else 0L

  private def jsonPath(p: SchemaPair, side: String) = s"$dir/${p.id}.$side.json"
  private def inputPath(p: SchemaPair) = s"$dir/${p.id}.input.parquet"
  private def outputPath(p: SchemaPair) = s"$dir/${p.id}.output.parquet"

  def prepare(): Unit = {
    Files.createDirectories(Paths.get(dir))
    pairs.foreach { p =>
      GSchemaIO.toFile(p.current, jsonPath(p, "current"))
      GSchemaIO.toFile(p.target, jsonPath(p, "target"))
    }
    // the migration inputs are independent Spark writes: run them at once
    val pool = java.util.concurrent.Executors.newFixedThreadPool(verifyThreads)
    try pairs.filter(_.kind == "migrate").map(p => pool.submit[Unit](() =>
      SchemaWorkload.rows(spark, p.current, SchemaWorkload.migrateRows(cfg.smoke))
        .write.mode("overwrite").parquet(inputPath(p)))).foreach(_.get)
    finally pool.shutdown()
  }

  def verify(op: String): Boolean = {
    val p = byId(op)
    val ok = p.kind match {
      case "diff" =>
        val res = Evolver.evolve(p.current, p.target, allowBreaking = true)
        SchemaWorkload.comparable(res.schema) == SchemaWorkload.comparable(p.target)
      case "apply" => apply(p, new Tracer(spark.sparkContext, enabled = false)).isEmpty
      case "migrate" =>
        migrate(p, new Tracer(spark.sparkContext, enabled = false))
        val out = spark.read.parquet(outputPath(p))
        val evolved = Evolver.evolve(p.current, p.target, allowBreaking = true).schema
        out.count() == SchemaWorkload.migrateRows(cfg.smoke) &&
          SchemaWorkload.shape(out.schema) == SchemaWorkload.shape(GSchema.toSpark(evolved))
    }
    if (!ok) System.err.println(s"[perfbench] $op (${p.kind}, width ${p.width}) failed its check")
    ok
  }

  def run(op: String, tr: Tracer): Unit = {
    val p = byId(op)
    p.kind match {
      case "diff" => diff(p, tr)
      case "apply" =>
        val left = apply(p, tr)
        if (left.nonEmpty) throw new IllegalStateException(s"$op: read-back re-diff left ${left.size} ops")
      case "migrate" => migrate(p, tr)
    }
  }

  private def diff(p: SchemaPair, tr: Tracer): Unit = {
    val (cur, tgt) = tr.span("schema.parse") {
      (GSchemaIO.fromFile(jsonPath(p, "current")), GSchemaIO.fromFile(jsonPath(p, "target")))
    }
    val d = tr.span("schema.diff")(SchemaDiff.byId(cur, tgt))
    tr.span("schema.moves")(SchemaDiff.minimalMoves(cur.fields.map(_.id), tgt.fields.map(_.id)))
    val planned = tr.span("schema.plan")(Evolver.plan(d, allowBreaking = true))
    tr.count("schema.ops", planned.size.toDouble)
    val res = tr.span("schema.evolve")(Evolver.evolve(cur, tgt, allowBreaking = true, dryRun = true))
    tr.count("schema.ddl_stmts", res.ddl.size.toDouble)
    tr.span("schema.render")(Render.styledOps(res.ops, color = false))
  }

  /** Creates the current table, applies the evolution DDL and returns
    * the operations a re-diff of the read-back schema still finds. */
  private def apply(p: SchemaPair, tr: Tracer): Seq[EvolutionOp] = {
    val table = s"graftcat.ns.t${tableNo.incrementAndGet()}"
    tables.add(table)
    val res = Evolver.evolve(p.current, p.target, table = table, allowBreaking = true)
    spark.sql(CreateTableDdl(p.current, table))
    val alter0 = TimedCatalog.alterNs.get
    tr.span("catalog.apply")(Evolver.executeDdl(spark, res.ddl))
    tr.count("catalog.stmts", res.ddl.size.toDouble)
    tr.count("catalog.alter_ns", (TimedCatalog.alterNs.get - alter0).toDouble)
    tr.span("catalog.readback") {
      val back = GSchemaIO.fromTable(spark, table)
      SchemaDiff.byId(SchemaWorkload.idFree(GSchema.toSpark(back)),
        SchemaWorkload.idFree(GSchema.toSpark(res.schema))).toOperations
    }
  }

  private def migrate(p: SchemaPair, tr: Tracer): Unit = {
    val evolved = Evolver.evolve(p.current, p.target, allowBreaking = true).schema
    val out = tr.span("conform.build") {
      Evolver.conform(spark.read.parquet(inputPath(p)), p.current, evolved)
    }
    tr.span("conform.write")(out.write.mode("overwrite").parquet(outputPath(p)))
    tr.count("conform.bytes_in", ParquetStats.bytes(inputPath(p)).toDouble)
    tr.count("conform.bytes_out", ParquetStats.bytes(outputPath(p)).toDouble)
    tr.count("conform.rows", SchemaWorkload.migrateRows(cfg.smoke).toDouble)
  }

  override def cleanup(): Unit = {
    Iterator.continually(tables.poll()).takeWhile(_ != null)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  def stamp: Seq[(String, String)] = {
    val hist = pairs.groupBy(p => s"${p.kind}.${SchemaWorkload.decade(p.width)}")
      .toSeq.sortBy(_._1).map { case (k, ps) => s"$k=${ps.size}" }.mkString(" ")
    Seq("schema_pairs" -> pairs.size.toString, "schema_width_histogram" -> hist,
      "schema_widths" -> pairs.map(_.width).sorted.mkString(" "),
      "migrate_rows" -> SchemaWorkload.migrateRows(cfg.smoke).toString)
  }
}

/** Times the catalog's `alterTable`, so the share of a DDL statement
  * spent in the catalog shows apart from Spark's parse and analysis.
  * Registered as the benchmark's catalog in every run. */
class TimedCatalog extends graft.catalog.GraftCatalog {
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t0 = System.nanoTime()
    try super.alterTable(ident, changes: _*)
    finally TimedCatalog.alterNs.addAndGet(System.nanoTime() - t0)
  }
}

object TimedCatalog {
  val alterNs = new AtomicLong(0L)
}

object SchemaWorkload {
  val MaxDepth = 8

  def decade(width: Int): String = if (width < 316) "w1e2" else if (width < 3162) "w1e3" else "w1e4"

  def migrateRows(smoke: Boolean): Long = if (smoke) 2000L else 2500L

  /** (kind, width, mutation rate, count) of the corpus of one pass. */
  def mix(smoke: Boolean): Seq[(String, Int, Double, Int)] =
    if (smoke) Seq(("diff", 100, 0.05, 2), ("apply", 100, 0.05, 1), ("migrate", 100, 0.05, 1))
    else Seq(
      ("diff", 100, 0.05, 40), ("diff", 1000, 0.05, 4), ("diff", 10000, 0.02, 2),
      ("apply", 100, 0.05, 4), ("apply", 300, 0.05, 2),
      ("migrate", 100, 0.05, 4))

  def corpus(seed: Long, smoke: Boolean): IndexedSeq[SchemaPair] = {
    val rnd = new Random(seed)
    mix(smoke).flatMap { case (kind, width, rate, n) =>
      (0 until n).map { i =>
        val cur = new SchemaGen(rnd).schema(width)
        val tgt = new SchemaGen(rnd).mutate(cur, rate)
        SchemaPair(f"$kind-$width%05d-$i", kind, width, cur, tgt)
      }
    }.toIndexedSeq
  }

  /** Everything but field ids, at every depth and in order. */
  def comparable(s: GSchema): Seq[Any] = s.fields.map(fieldShape)
  private def fieldShape(f: GField): Any = (f.name, typeShape(f.tpe), f.required, f.doc)
  private def typeShape(t: GType): Any = t match {
    case GStruct(fs) => fs.map(fieldShape)
    case GList(_, req, e) => ("list", req, typeShape(e))
    case GMap(_, k, _, req, v) => ("map", typeShape(k), req, typeShape(v))
    case p => p.canonical.typeString
  }

  /** A Spark schema with ids dropped (comments kept), re-read so both
    * sides of a re-diff get the same positional ids. */
  def idFree(st: StructType): GSchema = GSchema.fromSpark(strip(st).asInstanceOf[StructType])

  private def strip(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map { f =>
      val mb = new MetadataBuilder()
      if (f.metadata.contains("comment")) mb.putString("comment", f.metadata.getString("comment"))
      f.copy(dataType = strip(f.dataType), metadata = mb.build())
    })
    case a: ArrayType => a.copy(elementType = strip(a.elementType))
    case m: MapType => m.copy(keyType = strip(m.keyType), valueType = strip(m.valueType))
    case other => other
  }

  /** Names and types only: parquet files make every column nullable. */
  def shape(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(f.name, shape(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(shape(a.elementType), containsNull = true)
    case m: MapType => MapType(shape(m.keyType), shape(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** `n` deterministic rows shaped like `s`. */
  def rows(spark: SparkSession, s: GSchema, n: Long): org.apache.spark.sql.DataFrame = {
    def value(t: GType, k: Int): Column = t match {
      case GString => concat(lit(s"s$k-"), (col("id") % 977).cast("string"))
      case GInt => ((col("id") * 7 + k) % 100000).cast("int")
      case GLong => col("id") * 13 + k
      case GFloat => (((col("id") + k) % 1000) / 8).cast("float")
      case GDouble => ((col("id") + k) % 1000).cast("double") / 7
      case GBoolean => (col("id") + k) % 2 === 0
      case GDate => date_add(lit("2020-01-01").cast("date"), ((col("id") + k) % 1000).cast("int"))
      case GTimestamp => timestamp_micros(col("id") * 1000000L + k).cast("timestamp_ntz")
      case GDecimal(p, sc) => ((col("id") + k) % 10000).cast(DecimalType(p, sc))
      case GList(_, _, e) => array(value(e, k), value(e, k + 1))
      case GMap(_, kt, _, _, v) => map(value(kt, k), value(v, k))
      case GStruct(fs) => struct(fs.map(f => value(f.tpe, f.id).as(f.name)): _*)
      case other => throw new IllegalArgumentException(s"no generator for $other")
    }
    spark.range(n).select(s.fields.map(f => value(f.tpe, f.id).as(f.name)): _*)
  }
}

/** Seeded schema generator: structs nested up to [[SchemaWorkload.MaxDepth]]
  * deep, primitive leaves with some lists and maps, some docs and
  * required top-level fields, and a mutation mix of renames,
  * widenings, doc edits, adds, drops and top-level reorders. */
final class SchemaGen(rnd: Random) {
  private var nextId = 0
  private def id(): Int = { nextId += 1; nextId }
  private val prims: IndexedSeq[GType] =
    IndexedSeq(GString, GInt, GLong, GFloat, GDouble, GBoolean, GDate, GTimestamp, GDecimal(10, 2))
  private def prim(): GType = prims(rnd.nextInt(prims.size))
  private def leaf(): GType = rnd.nextInt(20) match {
    case 0 => GList(id(), elementRequired = false, prim())
    case 1 => GMap(id(), GString, id(), valueRequired = false, prim())
    case _ => prim()
  }
  private def doc(fid: Int): Option[String] = if (rnd.nextDouble() < 0.3) Some(s"doc of $fid") else None

  /** A schema of exactly `width` fields, counted at every depth. */
  def schema(width: Int): GSchema = {
    val chainLen = math.min(SchemaWorkload.MaxDepth, width / 2)
    val deep = if (chainLen >= 1) Seq(chain(chainLen, 1)) else Nil
    val fs = deep ++ fields(width - 2 * chainLen, depth = 1, top = true)
    val s = GSchema(0, fs)
    s.copy(lastColumnId = s.highwaterId)
  }

  /** A struct chain `len` levels deep: 2 fields per level. */
  private def chain(len: Int, depth: Int): GField = {
    val fid = id()
    val inner = if (len == 1) Seq(GField(id(), s"f$nextId", required = false, prim()))
      else Seq(GField(id(), s"f$nextId", required = false, prim()), chain(len - 1, depth + 1))
    GField(fid, s"f$fid", required = false, GStruct(inner), doc(fid))
  }

  private def fields(budget: Int, depth: Int, top: Boolean): Seq[GField] = {
    val out = mutable.ArrayBuffer.empty[GField]
    var left = budget
    while (left > 0) {
      val fid = id()
      left -= 1
      val req = top && rnd.nextDouble() < 0.2
      if (depth < SchemaWorkload.MaxDepth && left >= 2 && rnd.nextDouble() < 0.12) {
        val sub = math.min(left, 2 + rnd.nextInt(math.min(left, 30)))
        left -= sub
        out += GField(fid, s"f$fid", req, GStruct(fields(sub, depth + 1, top = false)), doc(fid))
      } else out += GField(fid, s"f$fid", req, leaf(), doc(fid))
    }
    out.toSeq
  }

  /** Mutates `rate` of the fields of `s` (the count is exact, the
    * fields are drawn at random): each drawn field is dropped, renamed,
    * widened, doc-edited or gets a new sibling after it; a drawn struct
    * also gets a new member at its end. New fields get ids above the
    * schema's highwater, as a catalog would assign them. */
  def mutate(s: GSchema, rate: Double): GSchema = {
    def ids(fs: Seq[GField]): Seq[Int] = fs.flatMap(f => f.id +: (f.tpe match {
      case GStruct(inner) => ids(inner)
      case _ => Nil
    }))
    val all = ids(s.fields)
    val drawn = rnd.shuffle(all).take(math.max(1, math.round(all.size * rate).toInt)).toSet
    nextId = s.highwaterId
    def newField(): GField = { val fid = id(); GField(fid, s"n$fid", required = false, prim(), doc(fid)) }
    def members(fs: Seq[GField], top: Boolean): Seq[GField] = {
      val kept = mutable.ArrayBuffer.empty[GField]
      fs.foreach { f =>
        val hit = drawn(f.id)
        val kind = if (hit) rnd.nextInt(5) else -1
        if (kind == 0 && !(top && f.required)) () // dropped
        else {
          var g = f
          if (kind == 1) g = g.copy(name = s"${g.name}_r")
          g.tpe match {
            case GInt if kind == 2 => g = g.copy(tpe = GLong)
            case GFloat if kind == 2 => g = g.copy(tpe = GDouble)
            case GStruct(inner) =>
              val grown = members(inner, top = false) ++ (if (hit) Seq(newField()) else Nil)
              g = g.copy(tpe = GStruct(if (grown.isEmpty) inner.take(1) else grown))
            case _ =>
          }
          if (kind == 3 || (kind == 2 && g.tpe == f.tpe)) g = g.copy(doc = Some(s"edited doc of ${g.id}"))
          kept += g
          if (top && kind == 4) kept += newField()
        }
      }
      if (kept.isEmpty) fs.take(1) else kept.toSeq
    }
    val top = members(s.fields, top = true).toBuffer
    val moves = math.max(if (top.size > 1) 1 else 0, (top.size * rate * 0.2).toInt)
    (0 until moves).foreach { _ =>
      val f = top.remove(rnd.nextInt(top.size))
      top.insert(rnd.nextInt(top.size + 1), f)
    }
    val out = GSchema(s.schemaId, top.toSeq)
    out.copy(lastColumnId = math.max(out.highwaterId, s.lastColumnId))
  }
}

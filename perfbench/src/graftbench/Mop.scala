package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.util.Random
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.Pipeline
import graft.catalog.Catalog
import graft.dsl.Calc
import graft.io.Sink
import graft.ops.Exact
import graft.plans.Planner

/** The paper's `mop setup` + `mop run` composed from the program's public
  * calls: Catalog.resolve → Planner.plan → one Pipeline.run per planned
  * file, one at a time in plan order, then a read of the status table.
  *
  * The raw field (gen.py) is 3-hourly over one year on `Cells` cells.
  * `mop_monthly` requests every variable at `mon`, so each resolves to the
  * 3hr mapping with resample=mon and fits one file; `mop_subdaily`
  * requests the native 3hr, and the size cap splits each variable into
  * 13 monthly slices. */
object Mop {
  final case class Var(name: String, inputs: Seq[String], calc: String,
      units: String, cellMethods: String)

  // Calculations stay inside what both Calc.defaultFns and
  // Calc.defaultSqlFns cover, so the check can recompute them in DuckDB.
  val vars: Seq[Var] = Seq(
    Var("tas", Seq("fld_ta"), "var[0]-273.15", "degC", "area: time: mean"),
    Var("tasmax", Seq("fld_ta"), "var[0]-273.15", "degC", "area: time: maximum"),
    Var("tasmin", Seq("fld_ta"), "var[0]-273.15", "degC", "area: time: minimum"),
    Var("pr", Seq("fld_rain", "fld_snow"), "var[0]+var[1]", "kg m-2 s-1", "area: time: mean"),
    Var("prsn", Seq("fld_snow"), "abs(var[0])", "kg m-2", "area: time: sum"),
    Var("sfcWind", Seq("fld_u", "fld_v"), "sqrt(var[0]**2+var[1]**2)", "m s-1", "area: time: mean"),
    Var("psl", Seq("fld_ps"), "var[0]/100.0", "hPa", "area: time: mean"),
    Var("huss", Seq("fld_q"), "var[0]/(1.0+var[0])", "1", "area: time: mean"))
  /** Requested but absent from the mappings: resolves to `unmatched`. */
  val unmatchedVar = "clt"

  val NativeFreq = "3hr"
  val Cells = 96
  val StepUs = 3L * 3600 * 1000000
  val Steps = 365 * 8
  val T0Us = 978307200L * 1000000 // 2001-01-01T00:00:00Z
  val T1Us = T0Us + Steps * StepUs
  /** Planner size model: bytes of one output row (time, cell, value). */
  val BytesPerRow = 20.0
  val MaxSizeMb = 0.5

  private val mappingRows: Seq[Catalog.Mapping] =
    vars.map(v => Catalog.Mapping(v.name, v.inputs.mkString(" "), v.calc, v.units,
      "longitude latitude time", NativeFreq, "atmos", v.cellMethods, "", NativeFreq, "BENCH1")) ++
    // finer candidates that must lose: the exact or nearest-coarser 3hr row wins
    Seq("tas", "pr").map(n => Catalog.Mapping(n, "fld_missing", "var[0]", "", "",
      "1hr", "atmos", "area: time: mean", "", "1hr", "BENCH1"))

  def timeshot(cellMethods: String): String =
    if (cellMethods.contains("time: maximum")) "max"
    else if (cellMethods.contains("time: minimum")) "min"
    else if (cellMethods.contains("time: sum")) "sum"
    else "mean"

  def rowsPerDay(freq: String): Double = freq match {
    case "3hr" => 8.0
    case "mon" => 12.0 / 365
  }

  /** Raw rows of the field inside [s, e). */
  def rawRows(s: Long, e: Long): Long = {
    def stepAtOrAfter(t: Long) =
      math.min(math.max(0L, Math.floorDiv(t - T0Us + StepUs - 1, StepUs)), Steps.toLong)
    (stepAtOrAfter(e) - stepAtOrAfter(s)) * Cells
  }

  /** A planned task with the planner's size estimate, the raw rows in its
    * slice and the SQL twin of its output value, for the check. */
  final case class Planned(task: Pipeline.Task, estMb: Double, rawRows: Long, valueSql: String)

  final case class Run(requests: Int, unmatched: Int, tasks: Seq[Planned], estMb: Double)

  /** Output frequency of the workload's requests. */
  def requestFreq(workload: String): String =
    if (workload == "mop_subdaily") NativeFreq else "mon"

  /** Request order is a seeded permutation, and plan order follows it. */
  def requestNames(seed: Long): Seq[String] =
    new Random(seed).shuffle(vars.map(_.name) :+ unmatchedVar)

  /** resolve → plan, with both calls spanned. */
  def plan(spark: SparkSession, tr: Tracer, workload: String, seed: Long): Run = {
    import spark.implicits._
    val freq = requestFreq(workload)
    val names = requestNames(seed)
    val resolved: Array[Row] = tr.span("catalog.resolve") {
      val req = names.map(n => (n, freq)).toDF("cmorVar", "frequency")
      Catalog.resolve(req, Catalog.mappings(spark, mappingRows)).collect()
    }
    val byVar = resolved.map(r => r.getAs[String]("req_var") -> r).toMap
    val matched = names.map(byVar).filter(_.getAs[String]("status") != "unmatched")
    val table = if (freq == "mon") "Amon" else freq
    val planned = tr.span("plans.plan") {
      matched.map(r => r -> Planner.plan(T0Us, T1Us,
        rowsPerDay(freq) * Cells * BytesPerRow / 1e6, MaxSizeMb))
    }
    val tasks = planned.flatMap { case (r, p) =>
      val v = r.getAs[String]("cmorVar")
      val inputs = r.getAs[String]("inputVars").split(" ").toSeq
      val calc = r.getAs[String]("calculation")
      val shot = timeshot(r.getAs[String]("cellMethods"))
      val resample = r.getAs[String]("resample")
      val calcSql = Calc.compileSql(calc, inputs)
      val valueSql =
        if (resample.isEmpty) calcSql
        else shot match {
          case "mean" => Exact.sqlAvg(calcSql)
          case "sum"  => Exact.sqlSum(calcSql)
          case other  => s"$other($calcSql)"
        }
      p.slices.map { s =>
        val key = Sink.DrsKey("CMIP6", "GRAFT", "BENCH1", "historical", "r1i1p1f1",
          table, v, "gn", "v20010101")
        Planned(Pipeline.Task(s"${v}_${table}_${s.index}", inputs, calc, resample, shot,
            s.startUs, s.endUs, key,
            Map("units" -> r.getAs[String]("units"),
              "cell_methods" -> r.getAs[String]("cellMethods"))),
          p.estFileMb, rawRows(s.startUs, s.endUs), valueSql)
      }
    }
    Run(names.size, names.size - matched.size, tasks, tasks.map(_.estMb).sum)
  }

  /** Copy a just-written output directory aside, so the check sees what
    * each task wrote even when a later task replaces it. */
  def snapshot(from: String, to: Path): Unit = {
    val src = Paths.get(from)
    Files.walk(src).forEach { p =>
      val dst = to.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  final case class TaskResult(p: Planned, wall: Double, result: Either[String, String], snap: String)
  final case class UnitResult(wall: Double, run: Run, tasks: Seq[TaskResult], statusRows: Long)

  /** One timed catalog run into a fresh output root. Snapshots are taken
    * with the clock stopped; `wall` excludes them. `warmUp` runs the
    * set-up subset instead. */
  def unit(spark: SparkSession, tr: Tracer, field: String, workload: String, seed: Long,
      root: String, snapRoot: Option[Path], warmUp: Boolean = false): UnitResult = {
    val t0 = System.nanoTime()
    var paused = 0L
    val raw = spark.read.parquet(field)
    val run0 = plan(spark, tr, workload, seed)
    // the warm-up runs the first slice of every variable: each
    // calculation and timeshot once (all of mop_monthly)
    val run = if (!warmUp) run0 else run0.copy(tasks =
      run0.tasks.filter(_.task.id.endsWith("_0")))
    val results = run.tasks.map { p =>
      if (tr.on) tr.span("dsl.compile", p.task.id) {
        Calc.compile(p.task.calculation, p.task.inputVars.map(col))
      }
      val w0 = System.nanoTime()
      val res = tr.span("pipeline.run", p.task.id) {
        Pipeline.run(spark, raw, p.task, root, Seq("cell"))
      }
      val wall = (System.nanoTime() - w0) / 1e9
      val s0 = System.nanoTime()
      val snap = (snapRoot, res) match {
        case (Some(sr), Right(dir)) =>
          val to = sr.resolve(p.task.id)
          tr.span("bench.snapshot")(snapshot(dir, to))
          to.toString
        case _ => ""
      }
      paused += System.nanoTime() - s0
      TaskResult(p, wall, res, snap)
    }
    val processed = spark.read.parquet(s"$root/_status")
      .filter(col("status") === "processed").count()
    UnitResult((System.nanoTime() - t0 - paused) / 1e9, run, results, processed)
  }
}

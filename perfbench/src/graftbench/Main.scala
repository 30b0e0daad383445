package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Benchmark driver process. run.py starts it once per run:
  *
  *   --workload W --seed N --seconds S --trace 0|1 --inputs DIR --out DIR
  *   [--queries q1,q2,... --data DIR --warm DIR --warm-passes K] [--plan-only 1]
  *
  * It sets up a local Spark driver, runs the workload as a closed loop of
  * units (one catalog run, or one pass over the query list) from this
  * thread until S seconds have been measured, and writes `result.json` (and, traced, `spans.jsonl`)
  * under --out. With --trace 1 units alternate untraced / traced; the
  * per-layer numbers come from the traced units and the difference of the
  * two medians is the tracing overhead. */
object Main {
  private def session(): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.ops.Iterate.quietReleaseWarnings()
    spark
  }

  final case class Op(name: String, wall: Double, error: Option[String])
  final case class UnitRec(wall: Double, traced: Boolean, ops: Seq[Op], rows: Long)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val inputs = Paths.get(opt("inputs"))
    val out = Paths.get(opt("out"))
    val queries = opt.get("queries").map(_.split(",").toSeq).getOrElse(Nil)
    val isMop = workload.startsWith("mop_")
    val field = inputs.resolve("field").toString
    // query workloads: timed and checked on --data, warmed up by K passes on --warm
    val data = opt.get("data").orNull
    val warm = opt.get("warm").orNull
    val warmPasses = opt.get("warm-passes").fold(1)(_.toInt)
    Files.createDirectories(out)

    // ---- set-up: JVM start → session ready → warm-up on the warm-up inputs
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session()
    val tr = new Tracer(spark.sparkContext)
    log(f"session ready ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f s after JVM start")
    if (opt.get("plan-only").contains("1")) {
      // the catalog and task list alone, for selftest.py
      val run = Mop.plan(spark, tr, workload, seed)
      Files.write(out.resolve("plan.json"), Json(Map("requests" -> run.requests,
        "unmatched" -> run.unmatched, "tasks" -> run.tasks.map { p =>
          val k = p.task
          Map("id" -> k.id, "inputs" -> k.inputVars, "calculation" -> k.calculation,
            "resample" -> k.resample, "timeshot" -> k.timeshot, "start_us" -> k.tstartUs,
            "end_us" -> k.tendUs, "drs" -> graft.io.Sink.drsPath(k.key))
        })).getBytes)
      spark.stop()
      return
    }
    if (isMop) Mop.unit(spark, tr, field, workload, seed, out.resolve("warm").toString, None,
      warmUp = true)
    else for (_ <- 1 to warmPasses) queries.foreach(q => Queries.runOne(spark, tr, q, warm, Queries.noop))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    log(f"set-up: $setupS%.2f s")
    tr.install(spark)

    // ---- timed closed loop --------------------------------------------
    val steal0 = Host.stealJiffies()
    val units = mutable.ArrayBuffer.empty[UnitRec]
    var lastMop: Option[Mop.UnitResult] = None
    val mopRuns = mutable.ArrayBuffer.empty[Mop.Run]
    val queryLeft = mutable.ArrayBuffer.empty[(Int, Double)]
    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    def need = !units.exists(!_.traced) || (traced && !units.exists(_.traced))
    while (elapsed < seconds || need) {
      val i = units.size
      tr.on = traced && i % 2 == 1
      tr.unit = i
      val rec = tr.span("unit") {
        if (isMop) {
          val snap = out.resolve(s"snap$i")
          val u = Mop.unit(spark, tr, field, workload, seed,
            out.resolve(s"run$i").toString, Some(snap))
          lastMop = Some(u)
          if (tr.on) mopRuns += u.run
          UnitRec(u.wall, tr.on,
            u.tasks.map(t => Op(t.p.task.id, t.wall, t.result.left.toOption)),
            u.tasks.map(_.p.rawRows).sum)
        } else {
          val (wall, res) = Queries.pass(spark, tr, queries, data, seed, i,
            out.resolve(s"run$i").toString)
          if (tr.on) res.foreach(r => queryLeft += ((r.leftover, r.leftMb)))
          UnitRec(wall, tr.on, res.map(r => Op(r.name, r.wall, r.error)), 0L)
        }
      }
      if (tr.on) tr.drain(spark)
      // only the newest unit's outputs are kept for the check
      if (i > 0) {
        deleteTree(out.resolve(s"run${i - 1}")); deleteTree(out.resolve(s"snap${i - 1}"))
      }
      units += rec
      log(f"unit $i${if (rec.traced) " (traced)" else ""}: ${rec.wall}%.3f s")
    }
    tr.on = false
    val stealS = (Host.stealJiffies() - steal0) / Host.ClockTicks

    // ---- hygiene: read retained heap and leftovers, then sweep ----------
    val heapMb = Host.retainedHeapMb()
    val leftover = spark.sparkContext.getPersistentRDDs.size
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    log(f"retained heap $heapMb%.1f MB, $leftover persisted RDDs left")
    // ---- outputs for the check (untimed) --------------------------------
    val check: Map[String, Any] =
      if (isMop) {
        val u = lastMop.get
        Map("kind" -> "mop", "status_rows" -> u.statusRows,
          "tasks" -> u.tasks.map { t =>
            val k = t.p.task
            Map("id" -> k.id, "variable" -> k.key.variable, "start_us" -> k.tstartUs,
              "end_us" -> k.tendUs, "resample" -> k.resample, "value_sql" -> t.p.valueSql,
              "dir" -> t.result.getOrElse(""), "snap" -> t.snap,
              "error" -> t.result.left.toOption.orNull)
          })
      } else
        Map("kind" -> "queries", "dir" -> out.resolve(s"run${units.size - 1}").toString,
          "errors" -> units.last.ops.flatMap(o => o.error.map(o.name -> _)).toMap,
          "oracle" -> queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)

    val layers = if (traced) Layers.compute(tr, units.toSeq, mopRuns.toSeq, queryLeft.toSeq)
      else Map.empty[String, Double]
    if (traced) Files.write(out.resolve("spans.jsonl"),
      tr.spans.map(s => Json(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "unit" -> s.unit, "op" -> s.op, "start_us" -> s.start, "end_us" -> s.end)))
        .mkString("", "\n", "\n").getBytes)
    val result = Map(
      "workload" -> workload, "seed" -> seed, "setup_s" -> setupS,
      "units" -> units.map(u => Map("wall" -> u.wall, "traced" -> u.traced, "rows" -> u.rows,
        "ops" -> u.ops.map(o => Map("name" -> o.name, "wall" -> o.wall, "error" -> o.error.orNull)))),
      "retained_heap_mb" -> heapMb, "leftover" -> leftover,
      "host" -> Map("steal_s" -> stealS, "load1" -> Host.load1()),
      "layers" -> layers, "check" -> check)
    Files.write(out.resolve("result.json"), Json(result).getBytes)
    spark.stop()
    log("stopped")
  }

  def log(msg: String): Unit = System.err.println(
    f"graftbench [${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s]: $msg")

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).toArray.map(_.asInstanceOf[Path])
    all.sortBy(-_.getNameCount).foreach(Files.delete)
  }
}

/** Host disturbance readings from /proc, and the retained heap. */
object Host {
  /** Heap in use after full GCs, repeated until it stops shrinking: a GC
    * enqueues the weak references Spark's ContextCleaner then releases
    * broadcast and shuffle state for, asynchronously, so one GC reads
    * however far the cleaner got. */
  def retainedHeapMb(): Double = {
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
    var last = used()
    var i = 0
    var next = { Thread.sleep(300); used() }
    while (i < 8 && next < last * 0.995) {
      last = next; i += 1
      Thread.sleep(300); next = used()
    }
    math.min(last, next)
  }

  val ClockTicks = 100.0
  def stealJiffies(): Double = {
    val cpu = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator
      .find(_.startsWith("cpu ")).get.trim.split("\\s+")
    cpu(8).toDouble
  }
  def load1(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split(" ")(0).toDouble
}

/** Minimal JSON rendering of maps, sequences, strings, numbers, booleans
  * and null. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }.mkString("\"", "", "\"")
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case o: Option[_] => apply(o.orNull)
  }
}

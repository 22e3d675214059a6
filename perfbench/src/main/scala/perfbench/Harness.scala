package perfbench

import graft.SparkEntry
import graft.core.{DataEquality, MeteauDataset, MeteauSignal, Observations}
import graft.io.SignalIO
import graft.model.Parameters
import graft.ops.Resample
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Closed-loop, single-client benchmark runner over the program's public
  * entry points. One JVM per run:
  *
  *   1. set-up, repeated `--setups` times: (first time) the Spark session,
  *      then a warm-up pass over a fresh alias of the input directory, so
  *      every per-directory fixture of the program is built again. The
  *      first warm-up pass is the untimed correctness pass: it dumps every
  *      query's output for the DuckDB oracle and runs every engine check;
  *   2. timed passes until `--seconds` have elapsed (whole passes only, at
  *      least one, in a seeded order per pass); in a traced run, untraced
  *      and traced passes alternate, at least one of each, so the tracing
  *      overhead is measured in-session.
  *
  * Raw samples go to `<out>/result.json` and spans to `<out>/spans.jsonl`;
  * the statistics are computed by `perfbench/metrics.py`.
  */
object Harness {
  private val Json = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Args(workload: String, ops: Seq[String], input: String,
      out: String, seconds: Double, seed: Long, trace: Boolean, setups: Int,
      tableRows: Map[String, Long])

  /** What one operation needs while it runs. */
  final class Ctx(val spark: SparkSession, val dir: String, val scratch: Path,
      val tracer: Option[Tracer]) {
    def span[T](name: String, op: String)(f: => T): T =
      tracer.fold(f)(_.span(name, op)(f))
  }

  /** One closed-loop request. `run` returns false when the operation's own
    * output check fails; an exception is a failure too. */
  trait Op {
    def name: String
    def rows: Long
    def run(c: Ctx): Boolean
    /** Untimed correctness pass: dump output for the oracle, or check. */
    def verify(c: Ctx, dumpDir: Path): Boolean
  }

  /** A declared query: construct through `SparkEntry.queries`, then drain
    * it through the noop sink, as the program's own bench does. */
  final class QueryOp(val name: String, val rows: Long) extends Op {
    def run(c: Ctx): Boolean = {
      val df = c.span("construct", name)(SparkEntry.queries(name)(c.spark, c.dir))
      if (c.tracer.nonEmpty) c.span("plan", name)(df.queryExecution.executedPlan)
      c.span("exec", name)(df.write.format("noop").mode("overwrite").save())
      true
    }
    def verify(c: Ctx, dumpDir: Path): Boolean = {
      SparkEntry.queries(name)(c.spark, c.dir).write
        .mode("overwrite").parquet(dumpDir.resolve(name).toString)
      true
    }
  }

  /** The engine's write path: one signal per event type built with
    * `MeteauSignal.ingest(...).process(Resample)` and `MeteauDataset.of`,
    * persisted with `SignalIO.save`, read back with `SignalIO.load` and
    * compared with `DataEquality.sameDataset`. `zip` swaps in the
    * reference-parity `saveZip`/`loadZip` pair on a subset: a smaller slice
    * and two of the signals. A slice is the first events by id; the file's
    * row groups follow `event_id`, so the scans read only the groups that
    * hold it. */
  final class RoundTripOp(val name: String, val rows: Long, zip: Boolean)
      extends Op {
    var lastSaveBytes = 0L
    var lastSaveFiles = 0L
    var lastRows = 0L

    private def dataset(c: Ctx): MeteauDataset = {
      c.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev0 = Observations.normalizeEventTs(
        c.spark.read.parquet(s"${c.dir}/events.parquet"))
      val ev = ev0.where(col("event_id") < rows)
      val types =
        if (zip) Seq("view", "purchase")
        else Seq("view", "click", "signup", "purchase", "error")
      c.span("core", name) {
        val sigs = types.map { t =>
          val raw = Observations.from(ev.where(col("event_type") === t),
            "event_type", "ts", "value").select(col(Observations.TsCol),
            col(Observations.ValueCol))
          MeteauSignal.ingest(raw, t.toUpperCase, "units")
            .process(Seq(s"${t.toUpperCase}#1_RAW#1"), Resample,
              Parameters.of("frequency" -> "10min", "grid" -> "false"))
        }
        MeteauDataset.of(s"events_$name", sigs)
      }
    }

    def run(c: Ctx): Boolean = roundTrip(c, measureSave = false)

    /** Also records the bytes, files and rows of the save, so no timed or
      * traced pass runs the extra actions this takes. */
    def verify(c: Ctx, dumpDir: Path): Boolean = roundTrip(c, measureSave = true)

    private def roundTrip(c: Ctx, measureSave: Boolean): Boolean = {
      val ds = dataset(c)
      val path = c.scratch.resolve(name)
      val loaded =
        if (zip) {
          val f = path.toString + ".zip"
          c.span("io.save", name)(SignalIO.saveZip(ds, f))
          c.span("io.load", name)(SignalIO.loadZip(c.spark, f))
        } else {
          c.span("io.save", name)(SignalIO.save(ds, path.toString))
          if (measureSave) measure(path, ds)
          c.span("io.load", name)(SignalIO.load(c.spark, path.toString))
        }
      c.span("io.check", name)(DataEquality.sameDataset(ds, loaded))
    }

    private def measure(path: Path, ds: MeteauDataset): Unit = {
      val files = Files.walk(path.resolve("data")).filter(p =>
        Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".") &&
          !p.getFileName.toString.startsWith("_")).toArray.map(_.asInstanceOf[Path])
      lastSaveFiles = files.length.toLong
      lastSaveBytes = files.map(Files.size).sum
      lastRows = ds.data.count()
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val out = Paths.get(a.out)
    Files.createDirectories(out)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val scratch = Files.createDirectories(out.resolve("scratch"))
    val failures = ArrayBuffer.empty[(String, String, String)]
    def attempt(op: Op, phase: String)(f: => Boolean): Boolean = {
      val ok =
        try f
        catch { case e: Throwable =>
          failures += ((op.name, phase,
            s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"))
          false
        }
      if (!ok && !failures.exists(x => x._1 == op.name && x._2 == phase))
        failures += ((op.name, phase, "output check failed"))
      spark.catalog.clearCache()
      ok
    }

    // 1. set-up, repeated over fresh directory aliases. The first warm-up
    //    pass is also the untimed correctness pass: it dumps every query's
    //    output for the oracle and runs every engine check.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val dumpDir = Files.createDirectories(out.resolve("dump"))
    val setupS = ArrayBuffer.empty[Double]
    var verified = Map.empty[String, Boolean]
    var dir = a.input
    val ops = buildOps(a)
    for (k <- 1 to a.setups) {
      val t0 = System.nanoTime()
      val alias = out.resolve(s"input_alias_$k")
      Files.deleteIfExists(alias)
      Files.createSymbolicLink(alias, Paths.get(a.input).toAbsolutePath)
      dir = alias.toString
      val c = new Ctx(spark, dir, scratch, None)
      ops.foreach { op =>
        val t1 = System.nanoTime()
        if (k == 1) verified += op.name -> attempt(op, "verify")(op.verify(c, dumpDir))
        else attempt(op, "setup")(op.run(c))
        System.err.println(f"[perfbench] setup $k ${op.name} ${(System.nanoTime() - t1) / 1e9}%.3f s")
      }
      // the first set-up also pays for JVM start and the Spark session
      setupS += (if (k == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3
        else (System.nanoTime() - t0) / 1e9)
    }
    val walls = SparkEntry.buildWalls.collect {
      case (key, v) if key.endsWith(":" + dir) => key.takeWhile(_ != ':') -> v
    }.toMap

    // 2. timed passes
    val ctx = new Ctx(spark, dir, scratch, None)
    val samples = ArrayBuffer.empty[(String, Double, Boolean, Int)]
    val traced = ArrayBuffer.empty[(String, Double, Boolean, Int)]
    val tracedPasses = ArrayBuffer.empty[TracedPass]
    var untracedWall, tracedWall = 0.0
    var pass = 0
    val tStart = System.nanoTime()
    def more: Boolean =
      (System.nanoTime() - tStart) / 1e9 < a.seconds ||
        (a.trace && tracedPasses.isEmpty)
    while (more) {
      val order = new scala.util.Random(a.seed * 1000003L + pass).shuffle(ops)
      val tracing = a.trace && pass % 2 == 1
      val tp = if (tracing) Some(new TracedPass(spark)) else None
      val c = tp.fold(ctx)(p => new Ctx(spark, dir, scratch, Some(p.tracer)))
      // Start each pass from a collected heap, so a full collection the
      // set-up's garbage would force does not land on one timed operation.
      System.gc()
      val p0 = System.nanoTime()
      order.foreach { op =>
        val t0 = System.nanoTime()
        val ok = c.span("op", op.name)(attempt(op, "timed")(op.run(c)))
        val s = (System.nanoTime() - t0) / 1e9
        (if (tracing) traced else samples) += ((op.name, s, ok, pass))
      }
      val pw = (System.nanoTime() - p0) / 1e9
      tp.foreach { p => p.close(); tracedPasses += p }
      if (tracing) tracedWall += pw else untracedWall += pw
      pass += 1
    }

    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
    val jitS = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    // Old generation's peak use: what survived young collections,
    // independent of how far the heap was grown.
    val oldGenPeakB = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
      .map(_.getPeakUsage.getUsed).sum

    val oracle = ops.collect { case q: QueryOp => q.name -> SparkEntry.oracleSql(q.name) }
    val io = ops.collect { case r: RoundTripOp if r.lastRows > 0 => r }
    def sample(x: (String, Double, Boolean, Int)) =
      Map("op" -> x._1, "s" -> x._2, "ok" -> x._3, "pass" -> x._4)
    val result = Map(
      "workload" -> a.workload,
      "setup_s" -> setupS.toSeq,
      "fixture_build_s" -> walls,
      "untraced_wall_s" -> untracedWall,
      "traced_wall_s" -> tracedWall,
      "passes" -> pass,
      "op_rows" -> ops.map(o => o.name -> o.rows).toMap,
      "samples" -> samples.toSeq.map(sample),
      "traced_samples" -> traced.toSeq.map(sample),
      "verified" -> verified,
      "failures" -> failures.toSeq.map { case (n, ph, e) =>
        Map("op" -> n, "phase" -> ph, "error" -> e) },
      "oracle_sql" -> oracle.toMap,
      "rss_hwm_kb" -> vmHwmKb(),
      "jvm_gc_s" -> gcS,
      "jvm_jit_s" -> jitS,
      "old_gen_peak_b" -> oldGenPeakB,
      "save_bytes" -> io.map(_.lastSaveBytes).sum,
      "save_files" -> io.map(_.lastSaveFiles).sum,
      "save_rows" -> io.map(_.lastRows).sum,
      "layers" -> tracedPasses.toSeq.map { p =>
        Map(
          "jobs" -> p.layers.jobs.toMap,
          "stages" -> p.layers.stagesByLayer.toMap,
          "tasks" -> p.layers.tasks.toSeq.map { case ((layer, stage), t) =>
            Map("layer" -> layer, "stage" -> stage,
              "durations_ms" -> t.durationsMs.toSeq,
              "shuffle_read" -> t.shuffleRead, "shuffle_write" -> t.shuffleWrite,
              "spill" -> t.spill, "failed" -> t.failed) },
          "batches" -> p.stream.batches.toSeq.map { case (ms, rows) =>
            Map("ms" -> ms, "rows" -> rows) })
      })
    Files.writeString(out.resolve("result.json"), Json.writeValueAsString(result))
    val spans = tracedPasses.flatMap(_.tracer.spans).map { s =>
      Json.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    Files.writeString(out.resolve("spans.jsonl"), spans.mkString("", "\n", "\n"))
    spark.stop()
  }

  /** Workload operations. Query operations read the tables their oracle
    * SQL names, and `rows` is the size of those tables; a round trip reads
    * its slice of the events. */
  private def buildOps(a: Args): Seq[Op] = a.ops.map {
    case n @ ("engine_roundtrip" | "engine_zip") =>
      val zip = n == "engine_zip"
      new RoundTripOp(n, a.tableRows("events") / (if (zip) 500 else 100), zip)
    case n =>
      val sql = SparkEntry.oracleSql.getOrElse(n,
        throw new IllegalArgumentException(s"no declared query or oracle for $n"))
      val rows = Seq("events", "documents", "embeddings")
        .filter(t => s"\\b$t\\b".r.findFirstIn(sql).nonEmpty)
        .map(a.tableRows).sum
      new QueryOp(n, rows)
  }

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("ops").split(",").toSeq, m("input"), m("out"),
      m("seconds").toDouble, m("seed").toLong, m("trace") == "1",
      m("setups").toInt,
      m("table-rows").split(",").map { kv =>
        val Array(k, v) = kv.split("="); k -> v.toLong }.toMap)
  }
}

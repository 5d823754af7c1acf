package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** Runs one workload as a closed loop with a single client: operations run
  * back to back, in an order drawn from the seed, for whole passes until
  * `--seconds` have elapsed. Writes raw samples as JSON for `run.py`, which
  * checks the oracle outputs and prints the metrics.
  *
  * Untraced runs attach nothing to the session. Traced runs attach the
  * probe and a driver stack sampler, and record per-operation layer splits
  * and counters; their `wall_s` minus an untraced run's is the overhead.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      input: String, work: String, out: String, cpus: Int)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("input"), m("work"), m("out"), m("cpus").toInt)
  }

  private def buildSession(a: Args): SparkSession = {
    val spark = GraftSession.builder(a.cpus.toString)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)

  /** The committed stores written so far: `store<N>` directories in the
    * scratch trees the store rows create under `tmp`. Their landing,
    * checkpoint and staging directories are not part of a store.
    */
  private def storeDirs(tmp: String): Set[Path] = {
    def dirs(p: Path): List[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.filter(Files.isDirectory(_)).toList finally s.close()
    }
    if (!Files.isDirectory(Paths.get(tmp))) Set.empty
    else dirs(Paths.get(tmp)).flatMap(dirs)
      .filter(_.getFileName.toString.matches("store\\d+")).toSet
  }

  /** Bytes and files under the given directories. */
  private def footprint(roots: Iterable[Path]): (Long, Long) =
    roots.foldLeft((0L, 0L)) { case ((b0, n0), root) =>
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((b0, n0)) { case ((b, n), f) =>
          (b + (try Files.size(f) catch { case NonFatal(_) => 0L }), n + 1) }
      finally s.close()
    }

  final case class OpSample(name: String, pass: Int, ms: Double, error: Option[String])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val outDir = s"${a.work}/out"
    Files.createDirectories(Paths.get(outDir))
    val ops = Workloads.ops(a.workload, a.input, outDir)
    val order = new scala.util.Random(a.seed).shuffle(ops)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    // ---- set-up, timed from JVM start: fresh session, inputs registered,
    // then one untimed pass over the catalog rows so each row's plan shapes
    // are compiled and JIT-warm before timing. A pipeline run is timed
    // cold, as a scheduled pipeline run in a fresh process pays that cost.
    val errors = ArrayBuffer[String]()
    val spark = buildSession(a)
    Workloads.setUp(spark, a.workload, a.input)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val prime0 = System.nanoTime()
    if (a.workload != "arxiv_etl") order.foreach { op =>
      (try op.run(spark)() catch { case NonFatal(e) => Some(s"${op.name}: ${e.getMessage}") })
        .foreach(errors += _)
      spark.catalog.clearCache()
    }
    val primeS = (System.nanoTime() - prime0) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    System.err.println(f"[perfbench] setup $setupS%.3f s (session $sessionS%.3f s, prime $primeS%.3f s)")

    // ---- timed passes
    val probe = new Probe
    val samples = ArrayBuffer[OpSample]()
    val passes = ArrayBuffer[String]()
    val traced = ArrayBuffer[String]()
    val arxivStages = ArrayBuffer[String]()
    val tmpDir = sys.props("java.io.tmpdir")
    val sc = spark.sparkContext
    if (a.trace) { sc.addSparkListener(probe); spark.listenerManager.register(probe) }
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadline) {
      var opsMs, cpuNs = 0.0
      order.foreach { op =>
        val before = if (a.trace) { BusDrain.drain(sc); probe.takeIntervals(); probe.snapshot() } else Map.empty[String, Long]
        val storesBefore = if (a.trace) storeDirs(tmpDir) else Set.empty[Path]
        val gc0 = gcMs()
        val (calls0, callNs0) = (CountingScholar.calls.get, CountingScholar.nanos.get)
        val sampler = if (a.trace) Some(new StackSampler(Thread.currentThread(), 20)) else None
        sampler.foreach(_.start())
        val e0 = System.currentTimeMillis()
        val cpu0 = processCpuNs()
        val t0 = System.nanoTime()
        val outcome = try Right(op.run(spark)) catch { case NonFatal(e) => Left(e) }
        val ms = (System.nanoTime() - t0) / 1e6
        cpuNs += processCpuNs() - cpu0
        val e1 = System.currentTimeMillis()
        val modules = sampler.map(_.finish()).getOrElse(Map.empty)
        opsMs += ms
        // the op's own counters, read before the check launches jobs
        if (a.trace) BusDrain.drain(sc)
        val after = if (a.trace) probe.snapshot() else Map.empty[String, Long]
        val (jobs, plans) = if (a.trace) probe.takeIntervals() else (Nil, Nil)
        val gcOpMs = gcMs() - gc0
        val calls = CountingScholar.calls.get - calls0
        val callMs = (CountingScholar.nanos.get - callNs0) / 1e6
        val c0 = System.nanoTime()
        val error = outcome match {
          case Left(e) => Some(s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}")
          case Right(check) => try check() catch {
            case NonFatal(e) => Some(s"${op.name}: check failed: ${e.getMessage}")
          }
        }
        samples += OpSample(op.name, pass, ms, error)
        System.err.println(f"[perfbench] pass $pass ${op.name} $ms%.1f ms, " +
          f"check ${(System.nanoTime() - c0) / 1e6}%.0f ms${error.fold("")(" FAILED " + _)}")
        if (a.trace) {
          val planU = Intervals.union(plans, e0, e1)
          val busyU = Intervals.union(jobs ++ plans, e0, e1)
          val wallMs = e1 - e0
          val catalystMs = Intervals.length(planU)
          val schedulerMs = Intervals.length(busyU) - catalystMs
          // only the store this operation wrote, so the figure does not
          // grow with the number of passes run before it
          val (liveB, files) = footprint(storeDirs(tmpDir) -- storesBefore)
          val counters = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)).toDouble }
          val fields = Seq(
            "name" -> Json.str(op.name), "pass" -> pass.toString,
            "wall_ms" -> wallMs.toString, "catalyst_ms" -> catalystMs.toString,
            "scheduler_ms" -> schedulerMs.toString,
            "driver_ms" -> (wallMs - catalystMs - schedulerMs).toString,
            "job_busy_ms" -> Intervals.length(Intervals.union(jobs, e0, e1)).toString,
            "driver_gc_ms" -> gcOpMs.toString,
            "store_live_b" -> liveB.toString, "store_files" -> files.toString,
            "scholar_calls" -> calls.toString,
            "scholar_ms" -> Json.num(callMs),
            "pipeline_ms" -> Json.num(op match { case x: ArxivOp => x.lastPipelineMs; case _ => 0.0 }),
            "counters" -> Json.obj(counters.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
            "modules" -> Json.obj(modules.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))
          traced += Json.obj(fields)
        }
        spark.catalog.clearCache()
      }
      if (a.trace) ops.collect { case x: ArxivOp => x }.foreach { x =>
        arxivStages += Json.obj(ArxivOp.stageTimes(spark, x).map { case (k, v) => k -> Json.num(v) })
      }
      passes += Json.obj(Seq("wall_s" -> Json.num(opsMs / 1e3), "cpu_s" -> Json.num(cpuNs / 1e9)))
      pass += 1
    }
    if (a.trace) { sc.removeSparkListener(probe); spark.listenerManager.unregister(probe) }

    // ---- oracle SQL for the rows this workload ran (untimed)
    val names = ops.map(_.name).toSet
    val catalogNames = names.intersect(SparkEntry.queries.keySet)
    if (catalogNames.nonEmpty) {
      val static = SparkEntry.oracleSql.filter { case (k, _) => catalogNames(k) }
      val dynamic =
        if (catalogNames.forall(static.contains)) Map.empty[String, String]
        else SparkEntry.oracleSqlDynamic(spark, a.input).filter { case (k, _) => catalogNames(k) }
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
        Json.obj((static ++ dynamic).toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
    }

    val result = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "config" -> Json.obj(Seq(
        "master" -> Json.str(spark.sparkContext.master),
        "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark_version" -> Json.str(spark.version),
        "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
        "order" -> Json.arr(order.map(o => Json.str(o.name))))),
      "setup_s" -> Json.num(setupS),
      "session_s" -> Json.num(sessionS),
      "prime_s" -> Json.num(primeS),
      "passes" -> Json.arr(passes.toSeq),
      "ops" -> Json.arr(samples.map { s =>
        Json.obj(Seq("name" -> Json.str(s.name), "pass" -> s.pass.toString,
          "ms" -> Json.num(s.ms), "error" -> s.error.fold("null")(Json.str)))
      }.toSeq),
      "warmup_errors" -> Json.arr(errors.map(Json.str).toSeq),
      "traced_ops" -> Json.arr(traced.toSeq),
      "arxiv_stages" -> Json.arr(arxivStages.toSeq),
      "peak_rss_mb" -> Json.num(peakRssMb())))
    Files.writeString(Paths.get(a.out), result)
    spark.stop()
  }
}

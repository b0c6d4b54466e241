package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

import graft.{Bench, Sessions, SparkEntry}
import graft.ingest.Ingest

/** One benchmark run in one fresh JVM: canary, session, a warm-up pass
  * that also checks every operation's output, then closed-loop timed
  * passes (one client: each operation starts after the previous one
  * returns) until `--seconds` have elapsed, then a closing canary.
  *
  * Operations are the engine's public entry points, timed from outside:
  * `ingest_run` (`Ingest.run`), `quarantine` (`Ingest.quarantineIngest`)
  * or a declared query name (`SparkEntry.queries(n)` = build, then the
  * final `noop` write = exec). The harness writes raw samples to
  * `--result`; `perfbench/run.py` turns them into metrics and checks
  * them against the expected values.
  *
  * One warm-up pass does not finish the JIT: on a 4-vCPU host the pass
  * after it still ran up to 45 % slower than the ones after that. So a second, untimed
  * settle pass follows the warm-up, and timing starts after it.
  *
  * With `--trace 1` it also registers the [[Tracer]] listeners for the
  * warm-up and the odd timed passes, and writes the span tree
  * run → pass → op → build/exec/check → job → stage (and micro-batch) to
  * `--spans` as JSONL. The untraced passes between them give the
  * tracing overhead.
  */
object Harness {

  /** Timed passes run until `--seconds` have elapsed and at least this
    * many are complete: `pass_s` is then a median that one slow pass
    * cannot move, and a traced run has a traced pass and two untraced
    * ones. */
  val MinPasses = 3

  /** Exits non-zero on any error: Spark's non-daemon threads would
    * otherwise keep a failed run's JVM alive. */
  def main(args: Array[String]): Unit =
    try runAll(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }

  private def runAll(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ops = a("ops").split(',').toSeq
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val runDir = Paths.get(a("run-dir")).toAbsolutePath
    val tmpDir = Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath
    val clock = new Spans
    val tracer = new Tracer(clock)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .filterNot(_.getName.contains("Concurrent")).toSeq
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def gcSeconds(): Double = gcBeans.map(_.getCollectionTime).sum / 1e3

    val run = clock.create(0L, "run", a("workload"), a("launch-epoch").toDouble)
    val c0 = clock.now()
    val canaryStart = Bench.canary()
    val canaryS = clock.now() - c0

    val sessionSpan = clock.open(run.id, "session", "Sessions.local")
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = Sessions.local(cpus)
    clock.close(sessionSpan)
    val sc = spark.sparkContext

    var listening = false
    def listen(on: Boolean): Unit = if (traced && on != listening) {
      if (on) {
        sc.addSparkListener(tracer.sparkListener)
        spark.streams.addListener(tracer.streamListener)
        spark.listenerManager.register(tracer.executionListener)
      } else {
        org.apache.spark.graftbench.BusDrain(sc)
        sc.removeSparkListener(tracer.sparkListener)
        spark.streams.removeListener(tracer.streamListener)
        spark.listenerManager.unregister(tracer.executionListener)
      }
      listening = on
    }
    def setParent(s: Span): Unit =
      sc.setLocalProperty(Tracer.Parent, if (listening) s.id.toString else null)

    def tmpEntries(): Map[String, Path] = {
      val st = Files.list(tmpDir)
      try st.iterator().asScala.map(p => p.getFileName.toString -> p).toMap
      finally st.close()
    }
    def sizeMb(p: Path): Double = if (!Files.exists(p)) 0.0 else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum / 1048576.0
      finally st.close()
    }

    val watch = if (traced) Some(new StagingWatch(clock, tmpDir).start()) else None
    val tablesDir = a("tables")
    val inputDir = runDir.resolve("input")

    /** Row count + order-independent content hash of a query result
      * (sum of per-row xxhash64 over positionally renamed columns). */
    def contentCheck(df: DataFrame): Map[String, Any] = {
      val p = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
      val r = p.agg(count(lit(1)), sum(xxhash64(p.columns.map(col).toSeq: _*).cast("decimal(20,0)")))
        .head()
      Map("rows" -> r.getLong(0),
        "hash" -> Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
    }

    /** Runs one operation and returns its sample. The latency `s` covers
      * the entry-point calls only; `check` adds the output check after
      * them, outside the latency, the CPU and the GC figures. */
    def runOp(op: String, tag: String, parent: Span, check: Boolean): Map[String, Any] = {
      val before = if (listening) tmpEntries() else Map.empty[String, Path]
      val opSpan = clock.open(parent.id, "op", op)
      watch.foreach(_.parent = if (listening) opSpan.id else 0L)
      val out = runDir.resolve("out").resolve(tag)
      var buildS, execS = 0.0
      var error: Option[String] = None
      var checked = Map.empty[String, Any]
      val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]
      var buildSpan: Span = null
      val cpu0 = os.getProcessCpuTime
      val gc0 = gcSeconds()
      var cpuS, gcS, latencyS = Double.NaN
      def phase(kind: String, name: String)(body: => Unit): Double = {
        val s = clock.open(opSpan.id, kind, name)
        if (kind == "build") buildSpan = s
        setParent(s)
        try body finally clock.close(s)
        s.end - s.start
      }
      def called(): Unit = if (cpuS.isNaN) {
        latencyS = clock.now() - opSpan.start
        cpuS = (os.getProcessCpuTime - cpu0) / 1e9
        gcS = gcSeconds() - gc0
      }
      try op match {
        case "ingest_run" =>
          val src = inputDir.resolve("pp.csv")
          var r: Ingest.RunResult = null
          execS = phase("exec", "Ingest.run") {
            r = Ingest.run(spark, src.toUri.toString, out.resolve("data").toString,
              out.resolve("meta").toString)
          }
          called()
          val m = r.meta
          extra ++= Seq("fetch_s" -> m.download_duration_us / 1e6,
            "pipeline_task_s" -> m.read_duration_us / 1e6, "write_s" -> m.write_duration_us / 1e6,
            "meta_append_s" -> math.max(0.0, execS - m.process_duration_us / 1e6),
            "in_mb" -> Files.size(src) / 1048576.0, "out_mb" -> sizeMb(out.resolve("data")))
          checked = Map("rows" -> r.rowCount, "auto_date" -> r.autoDate.map(_.toString).orNull)
        case "quarantine" =>
          var dirs: (String, String) = null
          execS = phase("exec", "Ingest.quarantineIngest") {
            dirs = Ingest.quarantineIngest(spark,
              inputDir.resolve("pp_comma.csv").toString, out.resolve("quarantine").toString)
          }
          called()
          phase("check", op) {
            val reasons = spark.read.parquet(dirs._2).groupBy("reason").count().collect()
              .map(r => r.getString(0) -> r.getLong(1)).toMap
            checked = Map("quarantine" -> reasons, "clean_rows" -> spark.read.parquet(dirs._1).count())
          }
        case query =>
          val fn = SparkEntry.queries.getOrElse(query,
            throw new IllegalArgumentException(s"no declared query $query"))
          var df: DataFrame = null
          buildS = phase("build", query) { df = fn(spark, tablesDir) }
          execS = phase("exec", query) { df.write.format("noop").mode("overwrite").save() }
          called()
          if (check) phase("check", query) { checked = contentCheck(df) }
      } catch {
        case e: Throwable =>
          called()
          val msg = Option(e.getMessage).map(_.linesIterator.nextOption().getOrElse("")).getOrElse("")
          error = Some(s"${e.getClass.getName}: ${msg.take(300)}")
      }
      sc.setLocalProperty(Tracer.Parent, null)
      clock.close(opSpan)
      watch.foreach { w => w.poll(); w.parent = 0L }
      if (listening) {
        org.apache.spark.graftbench.BusDrain(sc)
        val after = tmpEntries()
        val scratch = (after.keySet -- before.keySet).filterNot(_.startsWith("graft_"))
        val (executions, planS) = tracer.claim(Option(buildSpan).getOrElse(opSpan))
        extra ++= Seq(
          "scratch_new_entries" -> scratch.size,
          "scratch_new_mb" -> scratch.toSeq.map(n => sizeMb(after(n))).sum,
          "executions" -> executions,
          "plan_s" -> planS,
          "persisted_rdds" -> sc.getPersistentRDDs.size,
          "held_storage_mb" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
      }
      opSpan.attrs ++= Seq("s" -> latencyS, "cpu_s" -> cpuS, "gc_s" -> gcS)
      Map("op" -> op, "s" -> latencyS, "build_s" -> buildS, "exec_s" -> execS,
        "cpu_s" -> cpuS, "gc_s" -> gcS, "span" -> opSpan.id,
        "error" -> error, "check" -> checked) ++ extra
    }

    def runPass(name: String, order: Seq[String], check: Boolean): Map[String, Any] = {
      val passSpan = clock.open(run.id, "pass", name)
      val samples = order.map(op => runOp(op, name, passSpan, check))
      clock.close(passSpan)
      graft.FsUtil.deleteRecursively(runDir.resolve("out").resolve(name))
      passSpan.attrs("traced") = listening
      Map("name" -> name, "traced" -> listening, "span" -> passSpan.id,
        "wall_s" -> (passSpan.end - passSpan.start), "ops" -> samples)
    }

    // warm-up: one pass in declared order that checks every output
    val ingest = ops.forall(o => o == "ingest_run" || o == "quarantine")
    listen(true)
    val warm = runPass("warmup", ops, check = true)
    val setupS = clock.now() - run.start - canaryS
    def order(k: Int): Seq[String] = new scala.util.Random(seed * 7919L + k).shuffle(ops)
    listen(false)
    val settle = runPass("settle", order(-1), check = ingest)

    // timed passes: closed loop, seeded order per pass; a traced run
    // traces the odd passes, and the even ones give the untraced baseline
    val t0 = clock.now()
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    while (clock.now() - t0 < seconds || passes.size < MinPasses) {
      val k = passes.size
      listen(k % 2 == 1)
      passes += runPass(s"pass$k", order(k), check = ingest)
    }
    listen(false)
    watch.foreach(_.stop())
    val windowS = clock.now() - t0
    // the live set after the workload: heap in use right after a forced
    // full collection. G1's own old-generation figures depend on when it
    // last ran a mixed cycle, and a forced collection between passes
    // shrinks the heap and slows the passes after it.
    System.gc()
    val liveHeapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val canaryEnd = Bench.canary()
    clock.close(run)

    val result = Map(
      "workload" -> a("workload"), "seed" -> seed, "cpus" -> cpus, "traced" -> traced,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "canary_s" -> Seq(canaryStart, canaryEnd), "canary_ref_s" -> Bench.CalibRef,
      "session_start_s" -> (sessionSpan.end - sessionSpan.start),
      "live_heap_mb" -> liveHeapMb, "setup_s" -> setupS, "window_s" -> windowS,
      "warmup_s" -> warm("wall_s"), "warmup" -> warm, "settle" -> settle,
      "passes" -> passes.toSeq)
    Files.writeString(Paths.get(a("result")), Json(result))
    spark.stop()
    if (traced) clock.write(a("spans"))
    sys.exit(0)
  }
}

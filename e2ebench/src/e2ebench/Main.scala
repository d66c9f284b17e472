package e2ebench

import java.nio.file.{Files, Path}

/** One benchmark run in one JVM. Arguments (all required):
  *   --workload spot_daemon|board_hot|doc_daemon  --seconds S
  *   --trace 0|1  --cpus N  --input DIR (generated inputs)  --work DIR
  *   --out FILE (result JSON)
  *
  * `setup_s` is everything from JVM start to the first timed operation:
  * JVM boot to main, the session build and the workload's warm-up,
  * measured once, cold, as a daemon pays it. Input generation comes before
  * the JVM starts and is not part of it. */
object Main {
  val workloads: Map[String, Workload] = Map(
    "spot_daemon" -> SpotDaemon, "board_hot" -> BoardHot, "doc_daemon" -> DocDaemon)

  def main(argv: Array[String]): Unit = {
    val mainEntryMs = System.currentTimeMillis()
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val w = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val cpus = a("cpus").toInt
    val trace = a("trace") == "1"
    val work = a("work")
    val bootS = (mainEntryMs -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val t0 = System.nanoTime()
    val spark = Common.session(s"local[$cpus]", cpus, work)
    val sessionS = Common.secsSince(t0)
    w.warmUp(spark, s"$work/warm", a("input"))
    val warmS = Common.secsSince(t0) - sessionS
    val ctx = new Ctx(spark, new Tracer(spark, trace), a("seconds").toInt,
      a("input"), s"$work/run")
    w.run(ctx)
    ctx.metric("setup_s", bootS + sessionS + warmS, "s")
    ctx.detail ++= Seq("setup.jvm_boot_s" -> bootS,
      "setup.session_s" -> sessionS, "setup.warm_up_s" -> warmS)
    val spans = if (trace) ctx.tracer.report() else Nil
    ctx.tracer.detach()
    if (trace) w.baseline(ctx)
    ctx.metric("peak_rss_mb", Common.peakRssMb(), "MB")
    ctx.detail("peak_heap_used_mb") = Common.peakHeapMb()
    ctx.detail("jvm.gc_s") = Common.gcSeconds()
    // whether the build's class-data archive was mapped; without it set-up
    // pays for parsing and verifying every class again
    ctx.detail("jvm.class_data_shared") = java.lang.management.ManagementFactory
      .getPlatformMXBean(classOf[com.sun.management.HotSpotDiagnosticMXBean])
      .getVMOption("UseSharedSpaces").getValue
    spark.stop()

    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "metrics" -> ctx.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failures" -> ctx.failures, "detail" -> ctx.detail)
    if (trace) out("spans") = spans
    Files.writeString(Path.of(a("out")), Common.json(out))
  }
}

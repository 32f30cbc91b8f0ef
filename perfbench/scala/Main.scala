package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** JVM side of the benchmark: runs one workload and writes its raw
  * measurements as JSON. Arguments are `key=value` pairs; `perfbench/run.py`
  * passes them and does all statistics. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.map { s =>
      val i = s.indexOf('=')
      require(i > 0, s"argument '$s' is not key=value")
      s.take(i) -> s.drop(i + 1)
    }.toMap
    val work = a("work")
    val cores = a("cores").toInt
    val trace = a("trace") == "1"
    val rec = new Rec
    val spark = Ctx.session(cores, work)
    rec.set("session_ready_unix_s", System.currentTimeMillis() / 1e3)
    val ctx = new Ctx(spark, rec, trace, work, cores)
    rec.info("spark_version") = spark.version
    rec.info("java_version") = System.getProperty("java.version")
    Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.sql.session.timeZone")
      .foreach(k => rec.info(k) = spark.conf.get(k))
    var ok = false
    try {
      val seed = a("seed").toLong
      val seconds = a("seconds").toDouble
      a("workload") match {
        case "ingest_bulk" => new IngestBulk(ctx, seed, seconds,
          events = a("events").toLong, epochs = a("epochs").toInt,
          buckets = a("buckets").toInt,
          lookupsPerCycle = a("lookups_per_cycle").toInt,
          warmLookups = a("warm_lookups").toInt,
          mirrors = a("mirrors").toInt,
          setupReps = a("setup_reps").toInt).run()
        case "tail_mixed" => new TailMixed(ctx, seed, seconds,
          baseEvents = a("base_events").toLong,
          baseEpochs = a("base_epochs").toInt,
          filesPerSecond = a("files_per_second").toDouble,
          fileEvents = a("file_events").toLong,
          buckets = a("buckets").toInt,
          triggerMs = a("trigger_ms").toLong,
          filesPerTrigger = a("files_per_trigger").toInt,
          setupReps = a("setup_reps").toInt,
          minLookups = a("min_lookups").toInt,
          mirrors = a("mirrors").toInt).run()
        case w => sys.error(s"unknown workload $w")
      }
      ok = true
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        rec.info("error") = e.toString
    } finally {
      rec.set("rss_peak_mb", peakRssMb())
      rec.set("heap_peak_mb", peakHeapMb())
      rec.set("gc_s", gcSeconds())
      Files.write(Paths.get(a("out")), rec.json.getBytes(UTF_8))
      try ctx.spark.stop() catch { case _: Throwable => () }
    }
    sys.exit(if (ok) 0 else 1)
  }

  /** Peak use of the heap pools since the JVM started. */
  private def peakHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024.0 * 1024.0)
  }

  /** Time the collectors report having spent, over the whole run. */
  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum / 1e3
  }

  /** VmHWM of this JVM: the peak resident set the kernel recorded. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}

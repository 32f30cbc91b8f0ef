package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Run `body` on its own daemon thread, tagged with Spark job group
    * `name`, under a wall-clock budget. Per-query isolation for the
    * dump loop: one pathological query must cost its own row, never
    * zero a whole round's correctness file — a hang is the one failure
    * mode a per-query try/catch cannot contain, so the watchdog cancels
    * the job group (which interrupts running tasks) and reports the
    * query failed. Returns None on success, Some(message) on failure or
    * timeout. */
  private[graft] def runIsolated(spark: SparkSession, name: String,
      timeoutMs: Long)(body: => Unit): Option[String] = {
    @volatile var err: Option[String] = None
    val worker = new Thread(() => {
      try {
        spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
        body
      } catch { case e: Throwable => err = Some(String.valueOf(e.getMessage)) }
      finally spark.sparkContext.clearJobGroup()
    }, s"verify-$name")
    worker.setDaemon(true)
    worker.start()
    worker.join(timeoutMs)
    if (worker.isAlive) {
      spark.sparkContext.cancelJobGroup(name)
      worker.interrupt()
      worker.join(30000L) // give the cancel a moment to unwind
      Some(s"timed out after ${timeoutMs} ms (job group cancelled)")
    } else err
  }

  /** Rename a successful attempt's output `tmpDir` into the graded path
    * `dstDir`, replacing any earlier result. When the rename fails, both
    * directories are removed: the query costs its own row — never the
    * rest of the loop, the same isolation contract [[runIsolated]]
    * provides for hangs — and no attempt dir is left behind. Returns
    * whether the result landed. */
  private[graft] def promote(tmpDir: java.io.File,
      dstDir: java.io.File): Boolean = {
    org.apache.commons.io.FileUtils.deleteQuietly(dstDir): Unit
    tmpDir.renameTo(dstDir) || {
      org.apache.commons.io.FileUtils.deleteQuietly(tmpDir)
      org.apache.commons.io.FileUtils.deleteQuietly(dstDir)
      false
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val timeoutSec =
      sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "600").toLong
    SparkEntry.queries.foreach { case (name, fn) =>
      // Each attempt writes to its own temp dir and renames into the
      // graded path only on confirmed success: a wedged task that
      // outlives the watchdog's cancel+join can finish its write AFTER
      // this loop moves on, and with an in-place write it would
      // resurrect stale/partial parquet under the query's name — the
      // exact failure the post-timeout deletion guards against.
      val tmpDir = new java.io.File(s"$outDir/.attempt-$name")
      val dstDir = new java.io.File(s"$outDir/$name")
      org.apache.commons.io.FileUtils.deleteQuietly(tmpDir): Unit
      runIsolated(spark, name, timeoutSec * 1000L) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(tmpDir.getPath)
      } match {
        case None =>
          if (!promote(tmpDir, dstDir))
            System.err.println(
              s"[verify] $name failed: rename $tmpDir -> $dstDir failed")
        case Some(msg) =>
          System.err.println(s"[verify] $name failed: $msg")
          // stale results must not survive under the graded name — a
          // missing dir reads as an explicit failure; the zombie (if
          // any) keeps writing into the orphaned temp dir, never here
          org.apache.commons.io.FileUtils.deleteQuietly(dstDir): Unit
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

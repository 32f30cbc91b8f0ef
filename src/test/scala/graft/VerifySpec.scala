package graft

/** The Verify watchdog ([[Verify.runIsolated]]): per-query isolation so
  * one pathological query — including a genuine HANG, the one failure
  * mode a try/catch cannot contain — costs its own row, never the
  * round's whole correctness file. */
class VerifySpec extends SparkSpec {

  test("runIsolated: success returns None, failure returns the message") {
    @volatile var ran = false
    assert(Verify.runIsolated(spark, "ok", 30000L) { ran = true }.isEmpty)
    assert(ran)
    val err = Verify.runIsolated(spark, "boom", 30000L) {
      throw new RuntimeException("query exploded")
    }
    assert(err.exists(_.contains("query exploded")))
  }

  test("runIsolated: a hung Spark job is cancelled and the session stays usable") {
    val t0 = System.nanoTime()
    val err = Verify.runIsolated(spark, "hang", 1500L) {
      // a job whose tasks sleep far past the budget — the watchdog must
      // cancel the job group, not wait it out
      spark.range(4).repartition(4).foreach { _ =>
        try Thread.sleep(120000L)
        catch { case _: InterruptedException => () } // task kill
      }
    }
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    assert(err.exists(_.contains("timed out")), s"got $err")
    assert(elapsedSec < 60, f"watchdog took $elapsedSec%.1f s — cancel did not bite")
    // the session survives the cancelled query: the next query runs fine
    assert(spark.range(10).count() == 10)
  }

  test("runIsolated: a plain non-Spark hang is interrupted") {
    val err = Verify.runIsolated(spark, "sleep", 500L) {
      try Thread.sleep(120000L)
      catch { case _: InterruptedException => () }
    }
    assert(err.exists(_.contains("timed out")))
  }

  test("promote: a result lands; a failed rename leaves neither directory") {
    import java.io.File
    import java.nio.file.Files
    val base = new File(tmpDir("verify-promote"))
    def attempt(name: String): File = {
      val d = new File(base, s".attempt-$name")
      d.mkdirs()
      Files.writeString(new File(d, "part-0.parquet").toPath, "x")
      d
    }
    val okDst = new File(base, "q_ok")
    assert(Verify.promote(attempt("q_ok"), okDst))
    assert(new File(okDst, "part-0.parquet").isFile)
    assert(!new File(base, ".attempt-q_ok").exists())

    // the destination's parent is a regular file: the rename cannot succeed
    val blocker = new File(base, "blocker")
    Files.writeString(blocker.toPath, "not a directory")
    val tmp = attempt("q_bad")
    val dst = new File(blocker, "q_bad")
    assert(!Verify.promote(tmp, dst))
    assert(!tmp.exists(), "attempt dir leaked")
    assert(!dst.exists())
  }
}

package graft

import graft.state.{StateDirs, Watermark}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

class StateDirsSpec extends SparkSpec {
  import spark.implicits._

  private def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))
  }
  private def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
  private def exists(path: String): Boolean = Files.exists(Paths.get(path))

  test("replace keeps the previous copy as .old, dropping a stale " +
    ".old first; current skips an empty dir") {
    val root = tempDir("statedirs").toString
    val p = s"$root/state"
    Files.createDirectories(Paths.get(p))
    assert(StateDirs.current(p) === None, "an empty dir holds no state")
    StateDirs.replace(p)(Seq(1L, 2L).toDF("id").write.mode("overwrite").parquet(_))
    StateDirs.replace(p)(Seq(3L).toDF("id").write.mode("overwrite").parquet(_))
    StateDirs.replace(p)(Seq(4L).toDF("id").write.mode("overwrite").parquet(_))
    assert(StateDirs.current(p) === Some(p))
    assert(spark.read.parquet(p).as[Long].collect().toSet === Set(4L))
    assert(spark.read.parquet(p + ".old").as[Long].collect().toSet === Set(3L))
    assert(!exists(p + ".next"))
  }

  test("a stale .next left by an earlier crash is overwritten, not " +
    "promoted") {
    val root = tempDir("statedirs_next").toString
    val p = s"$root/log.json"
    write(p, "current")
    // an earlier replace crashed after starting its .next: a directory
    // holding a stray file where the writer below creates a plain file
    write(s"$p.next/stray", "half-written")
    StateDirs.replace(p) { next =>
      write(next, "replacement")
    }
    assert(read(p) === "replacement")
    assert(read(p + ".old") === "current")
    assert(!exists(p + ".next"))
  }

  test("Watermark: with only .old left by a crashed replace, " +
    "lastSuccessfulRun reads it and recordSuccess then rotates cleanly") {
    val root = tempDir("watermark_old").toString
    val log = s"$root/log.json"
    Watermark.recordSuccess(log, currentRun = 1000L, recordsRetrieved = 5L)
    Watermark.recordSuccess(log, currentRun = 2000L, recordsRetrieved = 7L)
    // the crash window: the current log moved to .old, the new one
    // never promoted (Hadoop's FS, so the local checksum files move too)
    val fs = new org.apache.hadoop.fs.Path(log)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(log + ".old"), false))
    assert(fs.rename(new org.apache.hadoop.fs.Path(log),
      new org.apache.hadoop.fs.Path(log + ".old")))
    write(log + ".next", """{"since": 2000, "current_run": 9999}""")
    assert(!exists(log))
    assert(Watermark.lastSuccessfulRun(log) ===
      Watermark.RunLog(since = 1000L, currentRun = 2000L, recordsRetrieved = 7L))
    Watermark.recordSuccess(log, currentRun = 3000L, recordsRetrieved = 2L)
    assert(Watermark.lastSuccessfulRun(log) ===
      Watermark.RunLog(since = 2000L, currentRun = 3000L, recordsRetrieved = 2L))
    assert(!exists(log + ".next"))
    assert(read(log + ".old").contains("\"current_run\": 2000"),
      "the pre-crash watermark stays as the rotation's .old")
    Watermark.recordSuccess(log, currentRun = 4000L, recordsRetrieved = 1L)
    assert(Watermark.lastSuccessfulRun(log).since === 3000L)
    assert(read(log + ".old").contains("\"current_run\": 3000"))
  }
}

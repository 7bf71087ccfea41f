package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Optional args beyond (sfDir, outDir) restrict the dump to the named
  * catalog entries — local iteration on one new entry without paying
  * for the full catalog. The driver always calls with exactly two args.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only: Set[String] = args.drop(2).toSet
    val spark = Session.builder(Session.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
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
    // oracle_sql.json is written BEFORE the (long) dump loop: the SQL
    // is static, and tooling that only needs the oracle text (the
    // HUGEINT type audit, oracle prototyping) shouldn't wait ~15 min
    // for the parquet dump to finish.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Oracle TYPE audit, wired in (r19 verdict item 7): every oracle
    // edit gets the HUGEINT/DECIMAL projection audit in the same run
    // that dumps the SQL, so it cannot be forgotten. BEST-EFFORT and
    // driver-side only: python3+duckdb exist where Verify is run (the
    // driver box); the Scala library itself gains no dependency — a
    // missing interpreter degrades to a note, never a failure.
    if (Files.exists(Paths.get("tools/audit_oracle_types.py"))) {
      try {
        val p = new ProcessBuilder("python3", "tools/audit_oracle_types.py",
          s"$outDir/oracle_sql.json", sfDir).redirectErrorStream(true).start()
        // Bounded wait (r20 ADVICE): readAllBytes + waitFor with no
        // timeout let a hung python3/duckdb (file lock) stall Verify
        // forever, contradicting the best-effort contract. Output is
        // drained on a daemon thread (so a chatty audit can't fill the
        // pipe and deadlock the bounded waitFor), and expiry kills the
        // subprocess tree.
        val out = new java.io.ByteArrayOutputStream()
        val drain = new Thread(() => {
          try p.getInputStream.transferTo(out)
          catch { case _: Exception => () }
        })
        drain.setDaemon(true)
        drain.start()
        val done = p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS)
        if (!done) {
          p.destroyForcibly()
          System.err.println(
            "[verify] oracle type audit TIMED OUT (120 s): killed")
        }
        drain.join(5000)
        System.err.println(s"[verify] oracle type audit (exit " +
          s"${if (done) p.exitValue().toString else "timeout"}):\n$out")
      } catch { case e: Exception =>
        System.err.println(s"[verify] oracle type audit skipped: " +
          s"${e.getMessage}")
      }
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

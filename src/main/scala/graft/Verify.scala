package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Writes its own canonical per-round ledger (`VERIFY_r{N}.json`, named by
  * SPARK_GRAFT_ROUND like Bench's per-round artifact) so the round's
  * correctness signal is self-describing: CORRECTNESS_r08.json arrived as
  * literally `{}` and nothing in the repo could distinguish "driver verify
  * crashed", "wrote-then-truncated" or "never ran" — the code was green but
  * the gate artifact was mute. The ledger records, per query, whether the
  * dump succeeded, the row count actually written (read back from the
  * parquet footer — metadata-only, no recompute) and the wall time, plus
  * the run-level contract: n_expected == SparkEntry.queries.size, the
  * oracle-exemption registry, and the oracle_sql count. An empty or short
  * driver artifact is now immediately attributable to the channel, never
  * to the code. Exit is nonzero when any query fails or the dump count
  * falls short, so a broken full run can't end quietly.
  */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** One self-describing ledger line. `entries` = (query, status, rows,
    * wallSec) in run order; `nExpected` = the full contract size
    * (SparkEntry.queries.size on a full run). Pure — spec-covered by
    * VerifyLedgerSpec without spinning up a SparkSession.
    */
  def ledgerJson(sfDir: String,
      entries: Seq[(String, String, Long, Double)],
      nExpected: Int, exempt: Set[String], nOracleSql: Int): String = {
    def f(d: Double): String = "%.3f".format(d)
    val nDumped = entries.count(_._2 == "ok")
    val failed = entries.filter(_._2 != "ok").map(_._1)
    val per = entries.map { case (n, st, rows, w) =>
      s"""${jsonStr(n)}:{"status":${jsonStr(st)},"rows":$rows,"sec":${f(w)}}"""
    }.mkString("{", ",", "}")
    val failedArr = failed.map(jsonStr).mkString("[", ",", "]")
    val exemptArr = exempt.toSeq.sorted.map(jsonStr).mkString("[", ",", "]")
    s"""{"metric":"verify","n_expected":$nExpected,"n_run":${entries.size},""" +
      s""""n_dumped":$nDumped,"n_failed":${failed.size},""" +
      s""""complete":${nDumped == nExpected},"failed":$failedArr,""" +
      s""""n_oracle_sql":$nOracleSql,"oracle_exempt":$exemptArr,""" +
      s""""sf":${jsonStr(sfDir)},"queries":$per}"""
  }

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma list of query-name substrings (dev loop only;
    // the driver always calls with 2 args = full run)
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, None)
      case Array(a, b, f) => (a, b, Some(f))
    }
    // the bench's own session (GraftSession) and query order
    // (Harness.select): the oracle gate certifies exactly the plans,
    // partitionings and pinned-frame payers graft.Bench times
    val spark = GraftSession.build(GraftSession.cpus())
    new java.io.File(outDir).mkdirs()
    val selected = Harness.select(only)
    val ran = selected.map { case Query(name, run, _) =>
      val r = Harness.run(spark, name) {
        run(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // row count READ BACK from what was actually written (parquet
        // footer metadata — no plan re-execution): the ledger certifies
        // the artifact on disk, not the plan that was supposed to
        // produce it
        spark.read.parquet(s"$outDir/$name").count()
      }
      r.result.fold({ e =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        (name, "fail", -1L, r.wallSec)
      }, rows => (name, "ok", rows, r.wallSec))
    }
    val oracles = selected.collect { case Query(n, _, Some(sql)) => n -> sql }
    val json = oracles
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // ledger: always into outDir next to the dumps; on a FULL run also as
    // the committed per-round artifact in cwd (a filtered dev-loop run
    // must not overwrite the round's canonical ledger)
    val nExpected =
      if (only.isEmpty) SparkEntry.queries.size else ran.size
    val ledger = ledgerJson(sfDir, ran, nExpected,
      SparkEntry.oracleExempt, oracles.size)
    Files.writeString(Paths.get(s"$outDir/verify_ledger.json"), ledger)
    if (only.isEmpty) {
      val roundName = sys.env.get("SPARK_GRAFT_ROUND")
        .map(r => s"VERIFY_r$r.json").getOrElse("VERIFY.json")
      Files.writeString(Paths.get(roundName), ledger + "\n")
    }
    val nDumped = ran.count(_._2 == "ok")
    val nFailed = ran.size - nDumped
    // loud one-line summary, LAST on stdout
    println(s"[verify] dumped $nDumped/$nExpected queries" +
      s" ($nFailed failed, ${oracles.size} oracles," +
      s" ${SparkEntry.oracleExempt.size} exempt) sf=$sfDir")
    spark.stop()
    if (nDumped != nExpected) sys.exit(3)
  }
}

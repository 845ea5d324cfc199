package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness gate: dumps each SparkEntry.queries result →
  * parquet + oracle_sql.json, then GRADES ITSELF — it runs the DuckDB
  * oracle compare (the same semantics as tools/close_gate.py) and
  * prints ONE compact correctness JSON as the LAST line of stdout,
  * under the same tail-capture contract Bench's headline satisfies
  * (≤1500 bytes, nothing printed after it; see build.sbt's
  * outputStrategy/showSuccess notes). Full per-query detail goes to
  * <outDir>/correctness_out.json; a run over every entry (no
  * GRAFT_VERIFY_ONLY subset) also mirrors it to ./correctness_out.json
  * beside bench_out.json. Four rounds of empty driver artifacts
  * (CORRECTNESS_r09–r12) rode on a dump-only Verify whose results some
  * downstream compare never consumed; after this, the gate result
  * exists the moment Verify exits, in both file and stdout form. */
object Verify {

  /** Queries whose wall exceeded the per-query cap — the budget guard
    * (pure; spec-tested). A future driver-side timeout then shows up
    * as a named slow query in the trail + exit code 3, distinguishable
    * from a silent harness mismatch. */
  def overCap(walls: Seq[(String, Double)], capSec: Double): Seq[String] =
    walls.collect { case (n, w) if w > capSec => n }.sorted

  /** The `GRAFT_VERIFY_ONLY` selection (comma-separated entry names):
    * the named entries, or None for every entry. */
  def selection(env: Option[String]): Option[Set[String]] =
    env.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)

  /** Whether a run's detail is mirrored over ./correctness_out.json,
    * the tracked full-gate record: only a run over every entry is — a
    * subset's record would replace it with a partial one. */
  def mirrorsDetail(only: Option[Set[String]]): Boolean = only.isEmpty

  def main(args: Array[String]): Unit = {
    // Lenient argv: the documented contract is (sfDir, outDir), but an
    // arity mismatch must not zero the round's correctness artifact —
    // default to the driver's own gate inputs and ignore extras.
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("/tmp/verify_out")
    // Default parallelism follows the box instead of a fixed 4: at 168
    // queries a local[4] run is a 45-75 minute wall (cold stores), the
    // plausible mechanism behind rounds of empty driver artifacts
    // (a timed-out Verify leaves nothing to compare). Half the cores,
    // capped at 16, floored at 4 — leaves headroom for the caller's
    // own work; the env override still wins.
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(
      math.max(4, math.min(16, Runtime.getRuntime.availableProcessors / 2)))
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // pin the data dir for oracle generators that read persisted index
    // artifacts (IndexQueries.annOracles) — the queries below build them
    sys.props("graft.oracle.sfDir") = sfDir
    new java.io.File(outDir).mkdirs()
    // local-iteration filter (comma-separated names); driver never sets it
    val only = selection(sys.env.get("GRAFT_VERIFY_ONLY"))
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
    // Dump oracle_sql.json FIRST: a truncated run (driver timeout,
    // OOM-kill) then still leaves a gradeable partial artifact — the
    // driver can compare every query dir that did land against its SQL.
    val json = SparkEntry.oracleSql(k => only.forall(_.contains(k)))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val wall0 = System.nanoTime()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }.toSeq
    // Bounded in-JVM concurrency: Spark's scheduler is thread-safe and
    // the index-store builds serialize on IndexStore's JVM lock, so N
    // dump queries can be in flight at once — at sf0.01 most of a
    // query's wall is stage scheduling, not compute, and 4 lanes cut
    // the 168-query sequential wall ~2.5×. Every entry is a pure
    // function of the persisted inputs (the repo's determinism
    // contract), so interleaving cannot change any dumped value.
    val lanes = math.max(1, sys.env.get("GRAFT_VERIFY_PAR")
      .flatMap(_.toIntOption).getOrElse(4))
    val capSec = sys.env.get("GRAFT_VERIFY_QUERY_CAP_S")
      .flatMap(_.toDoubleOption).getOrElse(600.0)
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]()
    selected.foreach(queue.add)
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val walls = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    def runOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val marker = Paths.get(s"$outDir/$name/_SUCCESS")
      // Resumable: a re-run over a partially-filled outDir (set
      // GRAFT_VERIFY_RESUME=1) skips queries whose parquet already
      // committed, so a timed-out run can be completed incrementally.
      if (sys.env.contains("GRAFT_VERIFY_RESUME") && Files.exists(marker)) {
        System.err.println(s"[verify] $name skipped (already dumped)")
        done.incrementAndGet(); ()
      } else try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val sec = (System.nanoTime() - t0) / 1e9
        walls.add(name -> sec)
        // stderr progress per query: a partial run (timeout, OOM-kill)
        // leaves a readable trail of how far it got and where the time
        // went — the diagnosis an empty driver artifact needs
        System.err.println(
          f"[verify] $name ok in $sec%.1f s " +
          f"(${done.incrementAndGet()}/${selected.size}, " +
          f"cum ${(System.nanoTime() - wall0) / 1e9}%.0f s)")
      } catch { case e: Throwable =>
        done.incrementAndGet()
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val workers = (1 to math.min(lanes, math.max(1, selected.size))).map { _ =>
      val t = new Thread(() => {
        var next = queue.poll()
        while (next != null) {
          runOne(next._1, next._2)
          // caches don't accumulate across queries: clear periodically
          // (clearing mid-flight is value-safe — every entry recomputes
          // to the same result by the determinism contract — it only
          // costs recompute, so amortize over a batch instead of per
          // query as the sequential loop did)
          if (done.get() % 24 == 0) spark.catalog.clearCache()
          next = queue.poll()
        }
      })
      t.setDaemon(true); t.start(); t
    }
    workers.foreach(_.join())
    val wallTotal = (System.nanoTime() - wall0) / 1e9
    System.err.println(f"[verify] total wall $wallTotal%.1f s " +
      f"for ${selected.size} queries ($lanes lanes)")
    // stop BEFORE any stdout emission (the Bench discipline): Spark's
    // shutdown logging goes to stderr, and with 2>&1 capture a late WARN
    // would displace the headline as the last captured line.
    spark.stop()
    // ---- self-grade: the DuckDB oracle compare, in-process ----------
    // python3 + duckdb are driver-side tools on every box this runs on
    // (the same interpreter tools/close_gate.py uses); the compare is
    // embedded so a fresh checkout needs no repo-relative script path.
    val headline = runCompare(sfDir, outDir, wallTotal)
    // mirror a full run's detail beside bench_out.json for the round
    // commit; a subset run leaves the tracked record alone
    val det = Paths.get(s"$outDir/correctness_out.json")
    if (mirrorsDetail(only) && Files.exists(det)) {
      try Files.copy(det, Paths.get("correctness_out.json"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      catch { case _: Throwable => () }
    }
    // Compact headline line LAST (≤1500 bytes by construction in the
    // compare script): the machine-readable correctness record.
    println(headline)
    import scala.jdk.CollectionConverters._
    val slow = overCap(walls.asScala.toSeq, capSec)
    if (slow.nonEmpty) {
      System.err.println(s"[verify] BUDGET GUARD: queries over " +
        s"$capSec s cap: ${slow.mkString(", ")}")
      sys.exit(3)
    }
  }

  /** Run the embedded oracle compare; returns the ≤1500-byte headline
    * line (the script's single stdout line), or a fallback headline if
    * the interpreter/compare is unavailable — the dump counts are then
    * still machine-readable. */
  private def runCompare(sfDir: String, outDir: String,
      wallSec: Double): String = {
    val fallback = {
      val dumped = Option(new java.io.File(outDir).listFiles())
        .map(_.count(f => f.isDirectory &&
          new java.io.File(f, "_SUCCESS").exists)).getOrElse(0)
      f"""{"metric":"correctness","summary":{"n_queries":$dumped,""" +
        f""""n_pass":-1,"n_fail":-1,"compare":"unavailable",""" +
        f""""wall_sec":$wallSec%.1f,"sf":"$sfDir"},"queries":{}}"""
    }
    try {
      Files.writeString(Paths.get(s"$outDir/compare.py"), ComparePy)
      val pb = new ProcessBuilder("python3", s"$outDir/compare.py",
        sfDir, outDir, f"$wallSec%.1f")
      pb.redirectErrorStream(false)
      val p = pb.start()
      val out = new String(p.getInputStream.readAllBytes,
        java.nio.charset.StandardCharsets.UTF_8).trim
      val err = new String(p.getErrorStream.readAllBytes,
        java.nio.charset.StandardCharsets.UTF_8)
      val rc = p.waitFor()
      if (err.nonEmpty) System.err.println(err)
      if (rc == 0 && out.nonEmpty) out.linesIterator.toSeq.last
      else { System.err.println(s"[verify] compare rc=$rc"); fallback }
    } catch { case e: Throwable =>
      System.err.println(s"[verify] compare unavailable: ${e.getMessage}")
      fallback
    }
  }

  /** The oracle compare, semantics-identical to tools/close_gate.py
    * (normalize = column sort + exact float32→float64 widen + one
    * deterministic row sort on both sides; match = rows + schema +
    * stringified values), emitting the driver-artifact field names
    * (rows_match/schema_match/hash_match/spark_rows/oracle_rows/err).
    * Writes <outDir>/correctness_out.json; prints ONE headline line,
    * failures-first and truncated to a 1500-byte budget. */
  private val ComparePy: String =
    """import json, multiprocessing as mp, os, sys, time
      |import duckdb
      |import numpy as np
      |
      |sf, out = sys.argv[1], sys.argv[2]
      |wall = float(sys.argv[3]) if len(sys.argv) > 3 else -1.0
      |
      |def normalize(df):
      |    df = df[sorted(df.columns)].reset_index(drop=True)
      |    for c in df.columns:
      |        if df[c].dtype == np.float32:
      |            df[c] = df[c].astype(np.float64)
      |    if len(df) == 0:
      |        return df
      |    key = df.astype(str).apply(lambda r: "\x1f".join(r), axis=1)
      |    return df.iloc[key.argsort(kind="mergesort")].reset_index(drop=True)
      |
      |def compare_one(args):
      |    # one oracle per worker process: the full sequential sweep is
      |    # ~17 min of DuckDB CPU (t_textrank's unrolled 8-round CTE
      |    # alone is ~3 min), the single plausible driver-timeout cause
      |    # left — a pool bounds the wall at the longest single oracle
      |    name, sql = args
      |    t0 = time.time()
      |    try:
      |        con = duckdb.connect()
      |        con.execute(f"SET threads={DUCK_THREADS}")
      |        for t in ["region", "nation", "customer", "supplier", "part",
      |                  "orders", "lineitem", "events", "documents",
      |                  "embeddings"]:
      |            p = f"{sf}/{t}.parquet"
      |            if os.path.exists(p):
      |                con.execute(
      |                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
      |        s = con.execute(
      |            f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").fetchdf()
      |        if sql is None:
      |            return name, {"rows_match": None, "schema_match": None,
      |                          "hash_match": None, "spark_rows": int(len(s)),
      |                          "oracle_rows": None, "err": "no_oracle"}, \
      |                   len(s) == 0, time.time() - t0
      |        o = normalize(con.execute(sql).fetchdf())
      |        s = normalize(s)
      |        rows = len(o) == len(s)
      |        schema = list(o.columns) == list(s.columns)
      |        values = bool(rows and schema and
      |                      o.astype(str).equals(s.astype(str)))
      |        return name, {"rows_match": bool(rows),
      |                      "schema_match": bool(schema), "hash_match": values,
      |                      "spark_rows": int(len(s)),
      |                      "oracle_rows": int(len(o)), "err": None}, \
      |               not values, time.time() - t0
      |    except Exception as e:
      |        return name, {"rows_match": False, "schema_match": False,
      |                      "hash_match": False, "spark_rows": None,
      |                      "oracle_rows": None, "err": str(e)[:200]}, True, \
      |               time.time() - t0
      |
      |DUCK_THREADS = 4
      |oracle = {}
      |try:
      |    oracle = json.load(open(f"{out}/oracle_sql.json"))
      |except Exception:
      |    pass
      |dumped = sorted(d for d in os.listdir(out)
      |                if os.path.isdir(os.path.join(out, d))
      |                and os.path.exists(os.path.join(out, d, "_SUCCESS")))
      |record, fails = {}, []
      |workers = max(2, min(8, (os.cpu_count() or 8) // 4))
      |tasks = [(n, oracle.get(n)) for n in dumped]
      |with mp.Pool(workers) as pool:
      |    done = 0
      |    for name, rec, failed, dt in pool.imap_unordered(compare_one, tasks):
      |        done += 1
      |        record[name] = rec
      |        if failed:
      |            fails.append(name)
      |        print(f"[compare] {name} {'FAIL' if failed else 'ok'} "
      |              f"{dt:.1f}s ({done}/{len(tasks)})",
      |              file=sys.stderr, flush=True)
      |for name in oracle:
      |    if name not in record:
      |        record[name] = {"rows_match": False, "schema_match": False,
      |                        "hash_match": False, "spark_rows": None,
      |                        "oracle_rows": None, "err": "no_dump"}
      |        fails.append(name)
      |fails = sorted(set(fails))
      |n_oracle = sum(1 for r in record.values() if r["err"] != "no_oracle")
      |summary = {"n_queries": len(record), "n_oracle": n_oracle,
      |           "n_pass": len(record) - len(fails), "n_fail": len(fails),
      |           "fails": fails, "wall_sec": wall, "sf": sf}
      |with open(f"{out}/correctness_out.json", "w") as f:
      |    json.dump({"summary": summary, "queries": record}, f, indent=1,
      |              sort_keys=True)
      |# headline: summary + failing entries' full flags, inside 1500 bytes
      |def line(nfails_detail, nfails_names):
      |    s = dict(summary, fails=fails[:nfails_names])
      |    if nfails_names < len(fails):
      |        s["fails_truncated"] = len(fails) - nfails_names
      |    qs = {k: record[k] for k in fails[:nfails_detail]}
      |    return json.dumps({"metric": "correctness", "summary": s,
      |                       "queries": qs}, separators=(",", ":"))
      |for nd, nn in [(8, 20), (4, 20), (0, 20), (0, 5), (0, 0)]:
      |    h = line(nd, nn)
      |    if len(h) <= 1500:
      |        break
      |print(h)
      |""".stripMargin
}

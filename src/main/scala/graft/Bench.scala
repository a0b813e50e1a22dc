package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

object Bench {

  /** Force-evaluate EVERY column of the result. A bare `count()` lets
    * Catalyst prune computed columns out of the timed plan (a
    * projection-only query would time as a metadata count), so instead
    * hash all columns into one aggregate: nothing prunes, one scalar
    * returns to the driver. Map columns aren't hashable → to_json.
    */
  private def force(df: DataFrame): Unit = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _          => col(f.name)
      }
    }
    // bit_xor, not sum: xxhash64 spans the full long range, and an ANSI
    // sum over it overflows
    df.select(xxhash64(cols.toIndexedSeq: _*).as("_h"))
      .agg(bit_xor(col("_h"))).collect()
    ()
  }

  /** `path` with `_c$cpus` before the file name's extension. Only a dot
    * inside the file name (after the last `/`, and not its first
    * character) starts an extension: `/data/run.1/BENCH` gains the suffix
    * at its end, not inside the directory name.
    */
  private[graft] def cpuSibling(path: String, cpus: String): String = {
    val dot = path.lastIndexOf('.')
    if (dot > path.lastIndexOf('/') + 1)
      path.substring(0, dot) + s"_c$cpus" + path.substring(dot)
    else path + s"_c$cpus"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional args = query names to bench (dev loop); default all
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(args.toSet.contains).toMap
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/BENCH.json")
    // Per-cpu-count twin of the detail file (r18 verdict item 6): the
    // driver runs the bench at two core counts and the second run's
    // detail OVERWROTE the first's in BENCH.json, losing the c32
    // per-query map except in a truncated stdout tail. Every write goes
    // to BOTH the contract path (unchanged) and a `_c$cpus` sibling, so
    // each core count's per-query detail survives the other run.
    val outFileCpu = cpuSibling(outFile, cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // events.parquet ships TIMESTAMP_NTZ micros in its current
      // generation; Tables.normalizeEventTs casts NTZ->TIMESTAMP, which
      // is only instant-preserving under a UTC session zone. Pin it in
      // every entrypoint, not just Verify/Smoke (advisor r4).
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    // ERROR, not WARN: the r16 driver artifact's stdout tail was pure
    // localCheckpoint/AQE WARN spam that crowded the JSON lines out of
    // the driver's bounded tail window.
    spark.sparkContext.setLogLevel("ERROR")
    // min of N timed runs (default 3): single-shot numbers on a shared
    // box produced phantom 5-10x "regressions" in earlier rounds, and
    // min-of-2 still let ~1s transient stalls through (r4 showed 2-12x
    // phantom deltas that a replay did not reproduce); the minimum of 3
    // is the least-noisy estimator of steady-state cost.
    // Pass-major, not query-major: the N runs of a query are spread
    // across N full catalog passes. Query-major (N consecutive runs)
    // let one multi-second box stall span ALL N runs of whichever query
    // it landed on (r5 driver artifact: three 2-10x phantom lanes, all
    // disproven by replay); with ~interleaved passes a stall window
    // covers different queries in different passes, so the per-query
    // min decorrelates from any single stall. Same total work.
    //
    // BUDGET-ADAPTIVE pass count (r16: warmup + 3 fixed passes over the
    // 266-lane catalog blew the driver's wall-clock cap — BENCH_r16
    // rc:124/parsed:null, no driver-side 2x artifact). Pass 1 now
    // doubles as the warmup AND a timed pass (warm-pass times are
    // >= steady state, so they enter the per-lane min only when they'd
    // lower nothing), and a further pass starts only if it fits the
    // remaining budget with a 1.2x safety factor. Elapsed is measured
    // from JVM start (run is forked, so this covers everything since
    // sbt handed off); the budget default leaves headroom for the sbt
    // launch+compile that precedes the fork. Partial results flush to
    // the out-file after EVERY pass, so even a kill mid-pass leaves a
    // parseable artifact.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // 960 default: the r15 rc-0 run fit ~980 s total and the r16 rc-124
    // run needed ~1150+, so the driver cap sits somewhere in between —
    // 960 s of fork time + ~90 s sbt launch/compile stays under the
    // inferred ~1200 s cap with margin. Three ~250 s passes fit; the
    // driver can widen via the env when its budget grows.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "960")
      .toDouble
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def elapsedSec: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val maxPasses = runs + 1 // pass 1 is the warmup; runs timed follow
    val ordered = selected.toVector
    // UNTIMED prelude (r17 verdict item 1): force every session
    // fixture build BEFORE pass 1 so no timed lane is charged a
    // build it only triggered first (the driver's BENCH_r17 recorded
    // ss7 at 49.5 s — the in-lane IVF k-means build — vs its 0.75 s
    // steady state). The prelude's own wall time is reported as its
    // own field, never folded into any lane or the total.
    val preludeT0 = elapsedSec
    var preludeDetail: Seq[(String, Double)] = Seq.empty
    val preludeSec =
      try {
        preludeDetail = SessionFixtures.buildAllDetail(spark, sfDir)
        elapsedSec - preludeT0
      }
      catch { case e: Throwable =>
        // a failed fixture build surfaces in its lane's timed run (and
        // the correctness gate); the prelude must not kill the bench
        System.err.println(s"[bench] prelude failed: ${e.getMessage}")
        elapsedSec - preludeT0
      }
    def writeOut(results: Map[String, Double], passesDone: Int): String = {
      val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val total = if (results.nonEmpty) results.values.sum else 0.0
      // warm_only: pass 1 doubles as warmup AND a timed pass; when the
      // budget fits only that one pass the recorded mins are warm-pass
      // times (>= steady state) — flagged so the gate can adjudicate
      // instead of reading a contended warm pass as plan cost
      val warmOnly = passesDone <= 1
      val preludeR = math.round(preludeSec * 1000).toDouble / 1000 // locale-free
      // per-fixture breakdown (r18 verdict item 7): diffable prelude
      val pd = preludeDetail.map { case (k, v) =>
        "\"" + k + "\":" + math.round(v * 1000).toDouble / 1000
      }.mkString("{", ",", "}")
      val json = s"""{"metric":"total","value":$total,"unit":"sec",""" +
        s""""queries":$qs,"sf":"$sfDir","passes":$passesDone,""" +
        s""""cpus":$cpus,"prelude_sec":$preludeR,""" +
        s""""prelude_detail":$pd,"warm_only":$warmOnly}"""
      // The driver truncates stdout (two rounds of BENCH_r{N}
      // parsed:null), so the JSON line ALSO lands in a file it can
      // read whole — plus the per-cpu sibling, so two core counts'
      // details never clobber each other.
      try {
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outFile), json + "\n")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outFileCpu), json + "\n")
      }
      catch { case _: Throwable => }
      json
    }
    var passes = Vector.empty[Map[String, Double]]
    var lastPassSec = 0.0
    var stop = false
    var results = Map.empty[String, Double]
    var json = writeOut(results, 0)
    while (!stop && passes.size < maxPasses) {
      val p0 = elapsedSec
      val pass = ordered.map { case (name, fn) =>
        val t0 = System.nanoTime()
        name -> (try { force(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          -1.0 // a failed run reports -1, not a fake elapsed time
        })
      }.toMap
      passes = passes :+ pass
      lastPassSec = elapsedSec - p0
      results = ordered.map { case (name, _) =>
        val times = passes.map(_(name))
        name -> (if (times.contains(-1.0)) -1.0 else times.min)
      }.toMap
      json = writeOut(results, passes.size)
      System.err.println(f"[bench] pass ${passes.size}: $lastPassSec%.1f s, " +
        f"elapsed $elapsedSec%.1f / $budgetSec%.0f s budget")
      // steady-state passes run faster than the warm pass, so gating the
      // NEXT pass on 1.2x the LAST pass is conservative after pass 1
      stop = elapsedSec + 1.2 * lastPassSec > budgetSec
    }
    Leases.releaseAll()
    spark.stop()
    // The driver captures a bounded stdout TAIL: the ~6KB per-query JSON
    // line gets front-truncated there (r1-r3 all "parsed": null). Print the
    // full line first for humans/logs, then a compact (<200B) summary as
    // the VERY LAST line so any plausible tail window holds one complete
    // parseable JSON object; per-query detail stays in the file.
    println(json)
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val totalR = math.round(total * 1000).toDouble / 1000 // locale-free 3dp
    val compact =
      s"""{"metric":"total","value":$totalR,"unit":"sec","n_queries":${results.size},"passes":${passes.size},"warm_only":${passes.size <= 1},"sf":"$sfDir","detail":"$outFile"}"""
    println(compact)
  }
}

package etlbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, MapType}

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload <cd_full|catalog_iter> --seed <n>
  *      --seconds <s> --trace <0|1> --cores <n> --work <dir> --result <file>
  * }}}
  *
  * Load is a closed loop: one client runs one operation at a time on a
  * `local[cores]` session. The result file is a JSON object with the
  * attempted and failed operation counts, every metric as `[value, unit]`,
  * and (for the catalog) the lane outputs the caller still has to check
  * against their reference SQL.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, cores: Int, work: Path, result: Path)

  /** What a workload run reports. */
  final class Report {
    var attempted = 0L
    var failed = 0L
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val extra = mutable.LinkedHashMap.empty[String, String]
    private var liveHeapMb = 0.0

    /** Note the heap held live at this point (see [[Main.liveHeapMb]]);
      * `live_heap_mb` is the largest such figure of the run.
      */
    def heapCheckpoint(): Unit = {
      val mb = Main.liveHeapMb()
      note(f"live heap $mb%.1f MB")
      liveHeapMb = math.max(liveHeapMb, mb)
      metric("live_heap_mb", liveHeapMb, "MB")
    }

    def metric(name: String, value: Double, unit: String): Unit =
      metrics(name) = (value, unit)

    /** Count one operation; a throw or a failed check makes it failed. */
    def attempt[A](what: String)(op: => (A, Boolean)): Option[A] = {
      attempted += 1
      try {
        val (a, ok) = op
        if (!ok) {
          failed += 1
          note(s"$what: output check failed")
        }
        Some(a).filter(_ => ok)
      } catch {
        case e: Throwable =>
          failed += 1
          note(s"$what threw: $e")
          None
      }
    }
  }

  def note(msg: String): Unit = System.err.println(s"[etlbench] $msg")

  def session(a: Args, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("etlbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Report `setup_s`: the median of the first set-up round, which ran in
    * the fresh JVM before any execution, and two more rounds run last.
    * Each round stops the session the executions ran on, and the engine
    * memoizes plans per session, so no execution may follow them.
    */
  def moreSetups(report: Report, first: Double, setup: Int => Double): Unit = {
    val rounds = first +: (2 to 3).map(setup)
    report.metric("setup_s", medianOf(rounds), "s")
    note(s"set-up rounds ${rounds.map(s => f"$s%.2f").mkString(" ")} s")
  }

  def medianOf(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Force every column of `df` and return an order-independent digest of
    * its rows: row count, XOR of 64-bit row hashes, and sum of 32-bit row
    * hashes. Hashing every column keeps Catalyst from pruning computed
    * columns out of the plan; floating values are rounded to 9 places
    * first, as the reference compare does, so summation order cannot
    * change the digest. Map columns are not hashable and go through JSON.
    */
  def digest(df: DataFrame): String = {
    val cols = df.schema.fields.toIndexedSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case DoubleType | FloatType => round(col(f.name).cast("double"), 9)
        case _ => col(f.name)
      }
    }
    val r = df.select(xxhash64(cols: _*).as("h"), hash(cols: _*).as("g"))
      .agg(count(lit(1)), bit_xor(col("h")), sum(col("g").cast("long")))
      .head()
    f"${r.getLong(0)}:${r.getLong(1)}%016x:${Option(r.get(2)).getOrElse(0L)}"
  }

  /** Heap in use right after a full collection, in MB: what the program
    * holds live (sessions, caches, persisted blocks, broadcasts), whatever
    * the heap size and however much garbage the last operation left. The
    * first collection lets Spark's cleaner see which broadcasts and
    * shuffles are unreachable; the pause lets it drop their blocks, and
    * the second collection frees them.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** `s` as a JSON string literal. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def writeResult(path: Path, r: Report): Unit = {
    val ms = r.metrics.map { case (k, (v, u)) =>
      s"${jsonString(k)}:[${num(v)},${jsonString(u)}]"
    }
    val ex = r.extra.map { case (k, v) => s"${jsonString(k)}:$v" }
    Files.writeString(path,
      s"""{"attempted":${r.attempted},"failed":${r.failed},""" +
        s""""metrics":{${ms.mkString(",")}},"extra":{${ex.mkString(",")}}}""" + "\n")
  }

  private def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, Paths.get(need("work")),
      Paths.get(need("result")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    Files.createDirectories(a.work)
    val report = new Report
    try {
      a.workload match {
        case "cd_full" =>
          new CityDirBench(a, CityDirBench.fullShape).run(report)
        case "catalog_iter" => new CatalogBench(a).run(report)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        // set-up failed: the run as a whole is one failed operation
        note(s"${a.workload} failed: $e")
        e.printStackTrace()
        report.attempted = math.max(report.attempted, 1L)
        report.failed = math.max(report.failed, 1L)
    }
    report.heapCheckpoint()
    writeResult(a.result, report)
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
  }
}

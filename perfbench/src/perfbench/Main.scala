package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Settings of one benchmark run, from the command line. */
final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      dataDir: String, workDir: String, out: String, ref: String,
                      recordRef: Boolean, cores: Int, launchMs: Double) {
  def sf: String = Paths.get(dataDir).getFileName.toString.stripPrefix("sf")
}

/** The outcome of one run. `queries` holds the per-query (or per-rule)
  * record, `checks` every output check with its verdict.
  */
final case class Outcome(endToEnd: Map[String, Double], perLayer: Map[String, Double],
                         attempted: Long, failed: Long,
                         queries: Map[String, Any], checks: Map[String, Any],
                         extra: Map[String, Any] = Map.empty)

object Main {
  /** Session settings shared by every workload: fixed core count and
    * shuffle width, so results and plans are the same on any host. The
    * code-generation cache holds every class a workload generates: with
    * Spark's default of 100 entries, a pass over the batch workload
    * evicts the classes the next pass needs, so every pass generates
    * them again and the JIT compiles them again, and query times then
    * follow the JIT's progress more than the program's.
    *
    * `schedulerMode` is Spark's job scheduling across concurrent jobs;
    * the streaming workload's rules run theirs concurrently (see
    * StreamWorkload).
    */
  def newSession(conf: Conf, schedulerMode: String = "FIFO"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${conf.cores}]")
      .appName(s"perfbench-${conf.workload}")
      .config("spark.sql.shuffle.partitions", conf.cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${conf.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${conf.workDir}/warehouse")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .config("spark.scheduler.mode", schedulerMode)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Conf(need("workload"), need("seed").toLong, need("seconds").toInt,
      m.get("trace").contains("1"), need("data"), need("work"), need("out"),
      m.getOrElse("ref", ""), m.get("record-ref").contains("1"),
      m.getOrElse("cores", "4").toInt, m.getOrElse("launch-ms", "0").toDouble)
  }

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val conf = parse(args)
    Files.createDirectories(Paths.get(conf.workDir))
    val jvmS = if (conf.launchMs > 0) (mainMs - conf.launchMs) / 1000.0 else 0.0
    val outcome = conf.workload match {
      case "selftest" => SelfTest.run(conf)
      case w if BatchWorkload.specs.contains(w) => BatchWorkload.run(conf, BatchWorkload.specs(w), jvmS)
      case "stream_rules" => StreamWorkload.run(conf, jvmS)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val record = Json.render(Map(
      "workload" -> conf.workload, "seed" -> conf.seed, "trace" -> (if (conf.trace) 1 else 0),
      "seconds" -> conf.seconds, "sf" -> conf.sf, "cores" -> conf.cores,
      "heap_mb" -> Host.heapMaxMb, "spark" -> org.apache.spark.SPARK_VERSION,
      "java" -> System.getProperty("java.version"),
      "attempted" -> outcome.attempted, "failed" -> outcome.failed,
      "failed_frac" -> (if (outcome.attempted > 0) outcome.failed.toDouble / outcome.attempted else 0.0),
      "end_to_end" -> outcome.endToEnd, "per_layer" -> outcome.perLayer,
      "queries" -> outcome.queries, "checks" -> outcome.checks, "extra" -> outcome.extra))
    Files.write(Paths.get(conf.out), record.getBytes(StandardCharsets.UTF_8))
    // streaming and listener threads are non-daemon in places; the
    // record is on disk, so end the process here
    sys.exit(0)
  }
}

/** JSON rendering of run records (maps, sequences, options, numbers). */
object Json {
  import org.json4s.{DefaultFormats, Extraction, Formats}
  import org.json4s.jackson.JsonMethods

  private implicit val formats: Formats = DefaultFormats

  def render(v: Any): String = JsonMethods.compact(JsonMethods.render(Extraction.decompose(v)))
}

/** Order statistics used by every workload. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Seq[Double]): Double = {
    val p = xs.filter(_ > 0)
    if (p.isEmpty) 0.0 else math.exp(p.map(math.log).sum / p.size)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

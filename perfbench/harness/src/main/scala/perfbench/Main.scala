package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, out: String)

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
}

object Json {
  private val mapper = new ObjectMapper()
  def read(p: Path): JsonNode = mapper.readTree(p.toFile)
  def write(p: Path, v: Any): Unit = {
    def toJava(x: Any): Any = x match {
      case m: scala.collection.Map[_, _] =>
        val j = new java.util.LinkedHashMap[String, Any]()
        m.foreach { case (k, v) => j.put(k.toString, toJava(v)) }
        j
      case s: Seq[_] => java.util.Arrays.asList(s.map(toJava): _*)
      case d: Double if d.isNaN || d.isInfinite => null
      case o => o
    }
    Files.createDirectories(p.getParent)
    mapper.writerWithDefaultPrettyPrinter().writeValue(p.toFile, toJava(v))
  }
}

/** What one run measured and checked. */
final class Result {
  var attempted, failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  var cold, work, allocPerUnit = Double.NaN
  /** end of set-up, ms since the epoch */
  var setupDoneMs = 0L
  var peakHeap = 0L
  var roundWalls = Seq.empty[Double]
  /** measured round intervals (ms since the epoch) */
  val rounds = mutable.ArrayBuffer.empty[(Long, Long)]
  val reported = mutable.LinkedHashMap.empty[String, Map[String, Any]]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val counters = mutable.LinkedHashMap.empty[String, Long]
  val infos = mutable.LinkedHashMap.empty[String, Any]
  var fingerprint: String = null

  def attempt(n: Int): Unit = attempted += n
  def fail(why: String): Unit = { failed += 1; errors += why }
  /** A correctness check is one attempted operation. */
  def check(ok: Boolean, why: => String): Unit = { attempted += 1; if (!ok) fail(why) }
  def setupDone(): Unit = setupDoneMs = System.currentTimeMillis()
  /** A metric printed by name and unit but not gated. */
  def report(name: String, v: Double, unit: String): Unit =
    reported(name) = Map("value" -> v, "unit" -> unit)
  def layer(name: String, v: Double): Unit = layers(name) = v
  def counter(name: String, v: Long): Unit = counters(name) = v
  def info(name: String, v: Any): Unit = infos(name) = v
  /** Seconds since JVM start, recorded under `phase.<name>`. */
  def phase(name: String): Unit =
    info(s"phase.$name", (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
}

/** Benchmark harness entry point:
  * `Main --workload <history|queries> --seed <n> --seconds <s> --trace <0|1>
  *  --work <scratch dir> --out <result json>`. */
object Main {

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work"), m("out"))
  }

  /** The session `graft.Bench` measures the engine with, at local[nproc]:
    * a 1 MB local-FS write buffer, JVM case mappings, and the Hadoop
    * configuration trimmed to the entries local-FS parquet jobs read (every
    * write task deserializes that configuration, property by property). */
  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.io.file.buffer.size", (1024 * 1024).toString)
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // session state first: its construction may reload the defaults
    s.sessionState
    val hc = s.sparkContext.hadoopConfiguration
    val keep = Seq("io.file.buffer.size", "fs.defaultFS", "hadoop.tmp.dir",
      "fs.permissions.umask-mode", "hadoop.security.authentication")
      .flatMap(k => Option(hc.get(k)).map(k -> _))
    hc.clear()
    keep.foreach { case (k, v) => hc.set(k, v) }
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a.work)
    val res = new Result
    res.phase("session")
    val steps = if (a.trace && a.workload == "history") {
      val l = new StepListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    a.workload match {
      case "history" => Crawl.history(spark, a, res, steps.isDefined)
      case "queries" => Queries.run(spark, a, res, a.trace)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    steps.foreach { l =>
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      stepLayers(l, res)
    }
    res.phase("done")
    res.layer("trace.work_s", res.work)
    res.layer("jvm.peak_heap_bytes", res.peakHeap.toDouble)
    res.counter("alloc_bytes_per_unit", res.allocPerUnit.toLong)
    res.report("peak_heap_bytes", res.peakHeap.toDouble, "B")
    res.report("error_rate", res.failed.toDouble / math.max(1L, res.attempted), "ratio")
    spark.stop()

    Json.write(Paths.get(a.out), Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "heap_bytes" -> Jvm.maxHeapBytes(),
      "setup_done_ms" -> res.setupDoneMs,
      "end_to_end" -> Map(
        "work_s" -> res.work, "cold_s" -> res.cold,
        "alloc_bytes_per_unit" -> res.allocPerUnit),
      "reported" -> res.reported,
      "per_layer" -> res.layers,
      "counters" -> res.counters,
      "info" -> res.infos,
      "round_walls_s" -> res.roundWalls,
      "fingerprint" -> res.fingerprint,
      "attempted" -> res.attempted, "failed" -> res.failed, "errors" -> res.errors.toSeq))
  }

  /** Per-step metrics, per measured round. */
  private def stepLayers(l: StepListener, res: Result): Unit = {
    val n = math.max(1, res.rounds.size)
    val steps = l.steps(res.rounds.toSeq)
    StepListener.Tags.foreach { tag =>
      val s = steps.getOrElse(tag, new StepListener.Step)
      val wall = StepListener.covered(s.jobs.toSeq, Long.MinValue, Long.MaxValue)
      res.layer(s"step.$tag.wall_s", wall / 1e3 / n)
      res.layer(s"step.$tag.cpu_s", s.cpuNs / 1e9 / n)
      res.layer(s"step.$tag.gc_s", s.gcMs / 1e3 / n)
      res.layer(s"step.$tag.task_skew", StepListener.skew(s))
      if (StepListener.Writes(tag)) res.layer(s"step.$tag.out_bytes", s.outBytes.toDouble / n)
      if (StepListener.Shuffles(tag)) res.layer(s"step.$tag.shuffle_bytes", s.shuffleBytes.toDouble / n)
      res.counter(s"tasks.$tag", s.tasks)
    }
    val jobs = steps.values.flatMap(_.jobs).toSeq
    val uncovered = res.rounds.map { case (s, e) => (e - s - StepListener.covered(jobs, s, e)) / 1e3 }
    res.layer("Crawler.round_s_p50", Stats.median(res.roundWalls))
    res.layer("Crawler.driver_s", Stats.median(uncovered.toSeq))
  }
}

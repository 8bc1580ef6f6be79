package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.functions.Urls
import graft.model.{CrawlConfig, FrontierEntry}
import graft.operators.SeenSet
import graft.plans.{Crawler, RoundReport}
import graft.sources.{Snapshots, Synth, SynthConfig}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The crawl workload, `history`: small rounds in ONE work dir, each over a
  * fresh PDF slice plus one listings page per (court, query), crossing a
  * compaction. Round 1, the first on the fresh session, is set-up and the
  * later rounds are measured. The traced run then resumes the finished work
  * dir (`Crawler.run(maxRounds = 1)`), adds spans around public calls on the
  * finished history, and runs one wave: a large PDF-only round with an empty
  * history, where the payload path does nearly all the work. Every frontier
  * enters its round from parquet, as a real round receives the previous
  * round's committed frontier.
  */
object Crawl {

  val Courts = 4
  val QueriesPerCourt = 8

  /** URLs in the traced run's wave round. */
  val WaveUrls = 16384
  /** PDF URLs per history round (plus 32 listing pages); a multiple of the
    * 32 (court, query) pairs, so every slice is full. */
  val HistoryUrls = 1536
  val CompactEvery = 2

  /** Rounds for a run of `seconds` (round 1 plus the measured ones, 10-20 s
    * each on 4 cores): a pure function of the argument, so every run of one
    * seed ends in the same state. */
  def historyRounds(seconds: Int): Int = 1 + math.max(1, seconds / 15)

  /** `n` PDF URLs: a mixed-radix walk over (court, query, page, rank) rows,
    * with priority = row index, so slices are priority ranges. URL-level
    * duplicates come only from Synth's planted case/file collisions, and
    * 7/8 of each court's PDFs sit on the court's one host. */
  def pdfFrontier(spark: SparkSession, cfg: SynthConfig, n: Long): Dataset[FrontierEntry] = {
    import spark.implicits._
    spark.range(0L, math.min(n, cfg.totalRows), 1L, spark.sparkContext.defaultParallelism * 4)
      .as[Long]
      .map { i =>
        var k = i
        val c = (k % cfg.courts).toInt; k /= cfg.courts
        val q = (k % cfg.queriesPerCourt).toInt; k /= cfg.queriesPerCourt
        val page = 1 + (k % cfg.pagesPerQuery).toInt; k /= cfg.pagesPerQuery
        val caseId = Synth.caseIdOf(cfg, c, q, page, k.toInt)
        val url = Synth.pdfUrl(cfg, c, Synth.fileIdOf(cfg, c, caseId))
        FrontierEntry(url, url, 0L, "", Synth.courtName(c), null, 1, 2, i, "pending", 0, 0)
      }
      .transform(canonical(spark))
  }

  def listings(spark: SparkSession, cfg: SynthConfig, page: Int): Dataset[FrontierEntry] = {
    import spark.implicits._
    Synth.listingEntries(cfg, page).toDS().transform(canonical(spark))
  }

  private def canonical(spark: SparkSession)(ds: Dataset[FrontierEntry]): Dataset[FrontierEntry] = {
    import spark.implicits._
    ds.toDF()
      .withColumn("canonical_url", Urls.canonicalize($"url"))
      .withColumn("url_hash", Urls.urlHash($"canonical_url"))
      .withColumn("host", Urls.host($"url"))
      .select(spark.emptyDataset[FrontierEntry].columns.map(col).toSeq: _*)
      .as[FrontierEntry]
  }

  def readFrontier(spark: SparkSession, path: String): Dataset[FrontierEntry] = {
    import spark.implicits._
    spark.read.parquet(path).as[FrontierEntry]
  }

  /** URLs a round fetched or deduped (the crawl-throughput numerator). */
  def urlsOf(r: RoundReport): Long = r.fetched_ok + r.fetch_failed + r.dup_url

  /** Per-round gates: every scheduled URL was fetched or failed, and the
    * manifest's table counts equal the parquet footer counts of every table
    * partition the round left in place (compaction folds some away). */
  def checkRound(res: Result, workDir: String, r: RoundReport): Unit = {
    res.check(r.scheduled == r.fetched_ok + r.fetch_failed,
      s"round ${r.round}: scheduled ${r.scheduled} != ok ${r.fetched_ok} + failed ${r.fetch_failed}")
    val manifest = Json.read(Snapshots.manifestPath(workDir, r.round))
    val tables = manifest.get("tables")
    tables.fieldNames().asScala.foreach { t =>
      val p = Snapshots.tablePath(workDir, r.round, t)
      if (Files.exists(Paths.get(p))) {
        val footer = Snapshots.footerCount(p)
        res.check(footer == tables.get(t).asLong(),
          s"round ${r.round}: manifest $t=${tables.get(t).asLong()} != footer $footer")
      }
    }
  }

  /** Bytes of parquet data per snapshot table under `workDir`. */
  def tableBytes(workDir: String): Map[String, Long] = {
    val root = Paths.get(workDir, "tables")
    if (!Files.exists(root)) return Map.empty
    Files.list(root).iterator.asScala.map { t =>
      val s = Files.walk(t)
      try t.getFileName.toString -> s.iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
      finally s.close()
    }.toMap
  }

  /** End-state fingerprint: seen `url_hash` set, kept `doc_id`s, paragraph
    * count and (when the crawl saw listings) the merged judgments. Order-free
    * hashes over whole tables, so it is independent of file layout. */
  def fingerprint(spark: SparkSession, workDir: String): String = {
    def digest(df: DataFrame): String = {
      val r = df.select(count(lit(1)), sum(xxhash64(df.columns.map(col).toSeq: _*).cast("decimal(38,0)")))
        .collect()(0)
      s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
    }
    val seen = digest(Crawler.seenAll(spark, workDir).select("url_hash"))
    val docs = Snapshots.readDeltas(spark, workDir, Crawler.DocsTable)
      .map(d => digest(d.select("doc_id"))).getOrElse("0")
    val paras = Snapshots.readDeltas(spark, workDir, Crawler.ParagraphsTable)
      .map(_.count()).getOrElse(0L)
    val merged =
      if (Snapshots.readDeltas(spark, workDir, Crawler.JudgmentsTable).isEmpty) "none"
      else {
        val m = Crawler.mergedJudgments(spark, workDir)
        digest(m.select(to_json(struct(m.columns.sorted.map(col).toSeq: _*))))
      }
    s"seen=$seen docs=$docs paragraphs=$paras merged=$merged"
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists(_)) finally s.close()
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** One wave round in a fresh work dir (traced run only): a PDF-only round
    * with an empty history, on the warm session the history left behind. */
  private def wave(spark: SparkSession, a: Args, res: Result): Unit = {
    val cpus = spark.sparkContext.defaultParallelism
    val synthCfg = SynthConfig(seed = a.seed, courts = Courts, queriesPerCourt = QueriesPerCourt,
      pagesPerQuery = 4, rowsPerPage = WaveUrls / (Courts * QueriesPerCourt * 4), failRate = 0.0)
    // saltMax 64 and 8 partitions per core: the dominant court hosts split
    // into enough politeness buckets that none dominates a task
    val cfg = CrawlConfig(budgetPerHost = Int.MaxValue / 2, maxRetries = 3,
      numPartitions = cpus * 8, saltMax = 64)
    val input = s"${a.work}/wave_input"
    pdfFrontier(spark, synthCfg, WaveUrls).write.parquet(input)
    val dir = s"${a.work}/wave"
    val al = Jvm.allocatedBytes()
    val t = System.nanoTime()
    val (r, _, _) = Crawler.runRound(spark, cfg, synthCfg, dir, 1, readFrontier(spark, input))
    val secs = seconds(t)
    val alloc = Jvm.allocatedBytes() - al
    res.attempt(1)
    checkRound(res, dir, r)
    val urls = urlsOf(r)
    val bytes = tableBytes(dir)
    res.layer("wave.round_s", secs)
    res.layer("wave.urls_per_s", urls / secs)
    res.layer("wave.alloc_bytes_per_url", alloc.toDouble / urls)
    res.layer("wave.durable_bytes_per_url", bytes.values.sum.toDouble / urls)
    res.counter("wave.urls", urls)
    bytes.foreach { case (t, b) => res.counter(s"wave.durable_bytes.$t", b) }
    deleteTree(Paths.get(dir))
  }

  private def historyConfigs(seed: Long, cpus: Int, rounds: Int): (SynthConfig, CrawlConfig) = (
    // pagesPerQuery = rounds + 1: every round fetches a fresh listings page
    // per (court, query) and its own PDF slice, and one slice stays unfetched
    // for the probe span; Synth's default 3% transient failures stay on
    SynthConfig(seed = seed, courts = Courts, queriesPerCourt = QueriesPerCourt,
      pagesPerQuery = rounds + 1, rowsPerPage = math.max(1, HistoryUrls / (Courts * QueriesPerCourt))),
    CrawlConfig(budgetPerHost = Int.MaxValue / 2, maxRetries = 3,
      numPartitions = cpus * 4, saltMax = 64, compactEvery = CompactEvery))

  def history(spark: SparkSession, a: Args, res: Result, traced: Boolean): Unit = {
    val cpus = spark.sparkContext.defaultParallelism
    val rounds = historyRounds(a.seconds)
    val (synthCfg, cfg) = historyConfigs(a.seed, cpus, rounds)
    val input = s"${a.work}/frontier_input"
    pdfFrontier(spark, synthCfg, HistoryUrls.toLong * (rounds + 1)).write.parquet(input)
    val all = readFrontier(spark, input)
    res.phase("inputs")
    val dir = s"${a.work}/history"
    def round(r: Int): RoundReport = {
      val slice = all.filter(col("priority") >= (r - 1L) * HistoryUrls && col("priority") < r.toLong * HistoryUrls)
      val (rep, _, _) = Crawler.runRound(spark, cfg, synthCfg, dir, r,
        slice.union(listings(spark, synthCfg, r)))
      res.attempt(1)
      rep
    }

    // round 1, the first on the fresh session, warms the JVM and codegen
    val tc = System.nanoTime()
    val first = round(1)
    res.cold = seconds(tc)
    res.setupDone()
    checkRound(res, dir, first)

    val walls, allocs = Seq.newBuilder[Double]
    var urls = 0L
    var gc, allocTotal = 0.0
    Jvm.resetPeak()
    (2 to rounds).foreach { r =>
      // every measured round starts from a collected heap, so an old-gen
      // collection owed to set-up or to the previous round's gate lands outside it
      System.gc()
      val (al, g) = (Jvm.allocatedBytes(), Jvm.gcSeconds())
      val t = System.currentTimeMillis()
      val rep = round(r)
      val end = System.currentTimeMillis()
      val alloc = Jvm.allocatedBytes() - al
      gc += Jvm.gcSeconds() - g
      allocTotal += alloc
      res.rounds += ((t, end))
      walls += (end - t) / 1e3
      allocs += alloc.toDouble / urlsOf(rep)
      urls += urlsOf(rep)
      // the gate runs outside the round's window and its counters
      checkRound(res, dir, rep)
    }
    val ws = walls.result()
    res.peakHeap = Jvm.peakHeapBytes()
    res.phase("measured")

    res.work = Stats.median(ws)
    res.allocPerUnit = Stats.median(allocs.result())
    val measured = ws.size
    res.info("history_rounds", rounds)
    res.info("measured_urls", urls)
    res.report("urls_per_s", urls / ws.sum, "URL/s")
    res.report("round_s_p50", res.work, s"s (n=$measured)")
    res.report("first_round_s", res.cold, "s")
    res.report("alloc_bytes_per_url", res.allocPerUnit, "B")
    res.layer("jvm.gc_s", gc / measured)
    res.layer("jvm.alloc_bytes", allocTotal / measured)
    res.roundWalls = ws

    val bytes = tableBytes(dir)
    res.report("durable_bytes_per_url", bytes.values.sum.toDouble / Crawler.seenAll(spark, dir).count(), "B")
    bytes.foreach { case (t, b) => res.counter(s"durable_bytes.$t", b) }
    Seq(Crawler.SeenTable, Crawler.DocsTable, Crawler.JudgmentsTable).foreach { t =>
      val n = Snapshots.scanFileCount(dir, t)
      res.counter(s"scan_files.$t", n)
      res.layer(s"Snapshots.scan_files.$t", n.toDouble)
    }
    res.fingerprint = fingerprint(spark, dir)

    if (traced) {
      // resume on the finished work dir: the filter rebuild from the full
      // seen table plus one round over the committed frontier
      val tr = System.nanoTime()
      val resumed = Crawler.run(spark, cfg, synthCfg, dir, maxRounds = 1)
      val resume = seconds(tr)
      res.attempt(1)
      res.check(resumed.size == 1, s"resume ran ${resumed.size} rounds, expected 1")
      resumed.foreach(checkRound(res, dir, _))
      res.report("resume_s", resume, "s")
      res.layer("Crawler.resume_s", resume)
      res.phase("resumed")
      spans(spark, dir, all, rounds, res)
      wave(spark, a, res)
    }
  }

  /** Direct spans around public calls on the finished history (traced run
    * only, after the measured section). */
  private def spans(spark: SparkSession, dir: String, frontier: Dataset[FrontierEntry],
      rounds: Int, res: Result): Unit = {
    import spark.implicits._
    val seen = Crawler.seenAll(spark, dir)
    val t0 = System.nanoTime()
    SeenSet.rebuildFilters(seen, s"$dir/filters-rebuilt")
    res.layer("SeenSet.rebuild_s", seconds(t0))

    // a half-seen probe frontier: the first seen keys by hash, plus as many
    // PDF URLs from the slice no round fetched
    val half = 1000
    val known = seen.orderBy("url_hash").limit(half)
      .select($"canonical_url".as("url"), $"canonical_url", $"url_hash", Urls.host($"canonical_url").as("host"))
    val novel = frontier
      .filter(col("priority") >= HistoryUrls.toLong * rounds &&
        col("priority") < HistoryUrls.toLong * rounds + half).toDF()
      .select("url", "canonical_url", "url_hash", "host")
    val probe = known.unionByName(novel).persist()
    val n = probe.count()
    val t1 = System.nanoTime()
    val dups = SeenSet.markDupes(probe, seen, Crawler.filterDir(dir),
      probeRepartition = false, seenKeysUnique = true)
      .agg(count(when($"__dup", 1))).collect()(0).getLong(0)
    res.layer("SeenSet.probe_s", seconds(t1))
    res.layer("SeenSet.dup_ratio", dups.toDouble / n)
    probe.unpersist()

    val t2 = System.nanoTime()
    Crawler.mergedJudgments(spark, dir).write.format("noop").mode("overwrite").save()
    res.layer("Merge.merged_judgments_s", seconds(t2))
  }
}

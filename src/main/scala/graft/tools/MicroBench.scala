package graft.tools

import graft.model.Doc
import graft.operators.{Dedup, Segregate}
import graft.sources.{Synth, SynthConfig}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only: does the per-doc processing kernel (staged hashes + rendering
  * hashes + segregation) scale with threads? Generates docs in-memory (no IO)
  * and times the projection at two parallelism levels in one JVM. */
object MicroBench {
  def run(cpus: Int, nDocs: Int): (Double, Double) = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"micro-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.parquet.columnarReaderBatchSize",
        sys.env.getOrElse("GRAFT_BATCH", "4096"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")
    val cfg = SynthConfig()
    val docs = spark.range(0, nDocs.toLong, 1, cpus * 4)
      .as[Long].map(i => Doc(s"D/$i", Synth.spansOf(cfg, i)))
      .toDF("doc_id", "spans")
    // warmup
    docs.limit(100).write.format("noop").mode("overwrite").save()

    val t0 = System.nanoTime()
    val narrow = Dedup.withRenderHashes(
      Dedup.withStagedHashes(docs), Segregate.RenderingNames).drop("spans")
    narrow.write.format("noop").mode("overwrite").save()
    val hashSecs = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    Segregate.paragraphsOfPayloads(docs.as[Doc]
        .map(d => (d.doc_id, graft.sources.Wire.encode(Nil, Some(d)))).toDF("doc_id", "payload"))
      .write.format("noop").mode("overwrite").save()
    val segSecs = (System.nanoTime() - t1) / 1e9

    // nested parquet write / read-back
    val dir = java.nio.file.Files.createTempDirectory(s"micro-$cpus").toString
    val t2 = System.nanoTime()
    docs.write.mode("overwrite").option("maxRecordsPerFile", 1000).parquet(s"$dir/docs")
    val writeSecs = (System.nanoTime() - t2) / 1e9
    val t3 = System.nanoTime()
    spark.read.parquet(s"$dir/docs")
      .select(col("doc_id"), xxhash64(to_json(col("spans"))).as("h"))
      .write.format("noop").mode("overwrite").save()
    val readSecs = (System.nanoTime() - t3) / 1e9
    // typed hash kernel in isolation (in-memory docs, no parquet)
    val t5 = System.nanoTime()
    docs.select(col("doc_id"), col("spans"), lit(0L).as("priority"), lit("c").as("court"))
      .as[(String, Seq[graft.model.Span], Long, String)]
      .map { case (id, sp, p, c) => Dedup.docHashes(id, p, c, sp) }
      .toDF().write.format("noop").mode("overwrite").save()
    val kernelSecs = (System.nanoTime() - t5) / 1e9
    println(f"cpus=$cpus typedKernel=$kernelSecs%.1fs")

    // exact replica of the crawler's docs-dedup+write subplan: events table
    // with a nullable doc STRUCT column → narrow hashes → windows → broadcast
    // join back onto spans → parquet write
    val events = docs.select(struct(col("doc_id"), col("spans")).as("doc"),
      monotonically_increasing_id().as("priority"))
    events.write.mode("overwrite").option("maxRecordsPerFile", 1000).parquet(s"$dir/events")
    val ev = spark.read.parquet(s"$dir/events")
    val t4 = System.nanoTime()
    import spark.implicits._
    val docsRaw = ev.select(col("doc.doc_id").as("doc_id"), col("doc.spans").as("spans"),
      col("priority"))
    val arrival = Seq(col("priority"), col("doc_id"))
    val narrow2 = docsRaw
      .select(col("doc_id"), col("spans"), col("priority"), lit("c").as("court"))
      .as[(String, Seq[graft.model.Span], Long, String)]
      .map { case (id, sp, p, c) => Dedup.docHashes(id, p, c, sp) }
      .toDF()
    val ta = System.nanoTime()
    narrow2.write.format("noop").mode("overwrite").save()
    println(f"cpus=$cpus sub:scan+kernel=${(System.nanoTime() - ta) / 1e9}%.1fs")
    val tb = System.nanoTime()
    val d2 = Dedup.contentDedup(narrow2, None, arrival)
    val kept = Dedup.renderingDedup(d2, Segregate.RenderingNames, None, arrival)
    kept.write.format("noop").mode("overwrite").save()
    println(f"cpus=$cpus sub:+windows=${(System.nanoTime() - tb) / 1e9}%.1fs")
    val tc = System.nanoTime()
    docsRaw.select(col("doc_id"), col("spans"))
      .join(broadcast(kept), Seq("doc_id"))
      .write.format("noop").mode("overwrite").save()
    println(f"cpus=$cpus sub:+join-noop=${(System.nanoTime() - tc) / 1e9}%.1fs")
    val td = System.nanoTime()
    docsRaw.select(col("doc_id"), col("spans"))
      .join(broadcast(kept), Seq("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/docsout")
    println(f"cpus=$cpus sub:+join-write=${(System.nanoTime() - td) / 1e9}%.1fs")
    val subplanSecs = (System.nanoTime() - t4) / 1e9
    spark.stop()
    println(f"cpus=$cpus docs=$nDocs hashProj=$hashSecs%.1fs seg=$segSecs%.1fs pqWrite=$writeSecs%.1fs pqReadHash=$readSecs%.1fs docsSubplan=$subplanSecs%.1fs")
    (hashSecs, segSecs)
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 50000
    for (cpus <- Seq(8, 32)) run(cpus, n)
  }
}

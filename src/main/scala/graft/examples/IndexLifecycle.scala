package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{AnnIndex, DedupIndex}
import graft.streaming.IndexIngest

/** The full persisted-index LIFECYCLE over the driver's tables — the
  * operate-at-100 TB loop a rolling-ingestion pipeline runs, end to end:
  *
  *   1. BUILD both indexes over yesterday's corpus (fingerprint / fit +
  *      assign paid once, bucketed on disk)
  *   2. DEDUP an arriving shard against the dedup index, keep survivors
  *   3. STREAM-INGEST survivors into both indexes (foreachBatch append at
  *      the frozen geometry — micro-batch boundaries invisible)
  *   4. QUERY the ANN index through the auto tier dispatch
  *      (`annTopKAuto(indexPath)`: uncompressed below the PQ tier,
  *      ADC-compressed at a recall-targeted pool past it)
  *   5. HEALTH-CHECK both indexes — declaratively, as constraints in the
  *      same requirement DSL as every data-quality gate
  *   6. MAINTAIN as advised: compact (merge append layers, shuffle-free)
  *      or rebuild (refit geometry / re-band from the payload). Both
  *      write a NEW GENERATION and flip the meta pointer atomically —
  *      concurrent readers keep their file-set, and a crash mid-rewrite
  *      leaves the old index readable; `vacuum(path)` drops retired
  *      generations once no long-running reader holds them
  *
  * Run: `sbt "runMain graft.examples.IndexLifecycle [sfDir]"`
  */
object IndexLifecycle {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val work = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_index_lifecycle")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) { val k = f.listFiles(); if (k != null) k.foreach(rm) }
      f.delete(): Unit
    }
    rm(work)
    val dedupPath = new java.io.File(work, "dedup_index").getAbsolutePath
    val annPath = new java.io.File(work, "ann_index").getAbsolutePath

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")

    // 1. build: yesterday's corpus = the odd halves
    DedupIndex.build(
      docs.where(col("doc_id") % 2 === 1), "text", "doc_id", dedupPath)
    AnnIndex.build(
      vecs.where(col("vec_id") % 2 === 1), "vec_id", "embedding", annPath,
      nCentroids = 16, kmeansIters = 1, pq = Some((8, 16)), pqIters = 1)

    // 2. dedup the arriving shard against the index (the corpus is never
    // re-fingerprinted), keep the survivors
    val shard = docs.where(col("doc_id") % 2 === 0)
    val dupIds = DedupIndex
      .incrementalNearDups(shard, "text", dedupPath, threshold = 0.6)
      .select(col("id1").as("doc_id")).distinct()
    val survivors = shard.join(dupIds, Seq("doc_id"), "left_anti")
    println(s"shard ${shard.count()} docs -> ${survivors.count()} survivors")

    // 3. stream-ingest the survivors (and the shard's vectors) — a real
    // multi-micro-batch file stream; autoCompact keeps layering bounded
    val docFeed = new java.io.File(work, "doc_feed").getAbsolutePath
    survivors.repartition(3).write.parquet(docFeed)
    // the write re-reads the dedup checkpoints behind `survivors`: release
    // them only once the feed is on disk
    graft.core.Blocks.releaseAll()
    IndexIngest.dedupIngest(
      spark.readStream.schema(survivors.schema)
        .option("maxFilesPerTrigger", 1).parquet(docFeed),
      "text", dedupPath, autoCompact = true)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val vecFeed = new java.io.File(work, "vec_feed").getAbsolutePath
    vecs.where(col("vec_id") % 2 === 0).repartition(3).write.parquet(vecFeed)
    IndexIngest.annIngest(
      spark.readStream.schema(vecs.schema)
        .option("maxFilesPerTrigger", 1).parquet(vecFeed),
      annPath, autoCompact = true)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()

    // 4. query through the auto dispatch — the index answers, the corpus
    // frame is never re-read on repeat queries
    val queries = vecs.where(col("vec_id") < 5)
    val n = vecs.count()
    val topk = graft.ops.Similarity.annTopKAuto(
      vecs, queries, "vec_id", "embedding", k = 5, corpusSize = n,
      indexPath = Some(annPath))
    println(s"annTopKAuto(indexPath) answered ${topk.count()} result rows " +
      s"via '${graft.ops.Similarity.annAutoIndexedMethod(pqCarrying = true, n)}'")
    graft.core.Blocks.releaseAll()

    // 5. declarative health gates, beside any other data-quality constraint
    import graft.requirements.WithinRequirement
    val health = WithinRequirement.fromDataFrame(vecs, "embeddings")
      .addAnnIndexHealthyConstraint(
        "vec_id", "embedding", annPath, minRecall = 0.7, k = 5, nProbe = 16)
      .addDedupIndexHealthyConstraint(dedupPath)
      .test(spark)
    health.foreach(r => println(r.message))

    // 6. maintenance as advised — generation-safe: a reader holding a
    // pre-maintenance plan keeps its file-set; vacuum when it is gone
    val report = AnnIndex.healthReport(spark, annPath, k = 5, nProbe = 16)
    report.recommendation match {
      case "rebuild" => AnnIndex.rebuild(spark, annPath): Unit
      case "compact" => AnnIndex.compact(spark, annPath): Unit
      case _ => ()
    }
    AnnIndex.vacuum(annPath)
    println(s"ann index health: $report")
    println(s"dedup index health: ${DedupIndex.healthReport(spark, dedupPath)}")

    rm(work)
    spark.stop()
  }
}

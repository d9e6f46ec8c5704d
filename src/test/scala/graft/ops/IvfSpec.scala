package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class IvfSpec extends SparkTestBase {

  private def vectors(n: Int, dim: Int = 16) = {
    import spark.implicits._
    (0 until n).map { i =>
      val v = Array.tabulate(dim) { d =>
        // deterministic pseudo-random floats in [-1, 1)
        ((((i * 2654435761L + d * 40503L + 7) % 2000) + 2000) % 2000) / 1000.0f - 1.0f
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  test("nProbe == nCells scans everything → identical to brute force") {
    val corpus = vectors(200)
    val queries = corpus.where(col("vec_id") < 4)
    val ivf = Ivf.ivfTopK(corpus, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, nCells = 8, nProbe = 8)
      .select("query_id", "id", "rank")
    val bf = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5)
      .select("query_id", "id", "rank")
    assert(ivf.exceptAll(bf).isEmpty && bf.exceptAll(ivf).isEmpty)
  }

  test("nCells=256: constant-size expression tree survives realistic cell counts") {
    // round-2 bestCells built one cosine subtree per centroid — at 256
    // cells codegen/analysis would blow up; the transform-over-literal
    // shape is O(1) nodes, so this must run fast and stay ≡ brute force
    // at nProbe == nCells
    val corpus = vectors(400)
    val queries = corpus.where(col("vec_id") < 3)
    val ivf = Ivf.ivfTopK(corpus, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, nCells = 256, nProbe = 256,
        kmeansIters = 0)
      .select("query_id", "id", "rank")
    val bf = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5)
      .select("query_id", "id", "rank")
    assert(ivf.exceptAll(bf).isEmpty && bf.exceptAll(ivf).isEmpty)
  }

  test("partial probe returns a subset of per-cell candidates with sane recall") {
    val corpus = vectors(300)
    val queries = corpus.where(col("vec_id") < 5)
    val ivf = Ivf.ivfTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, nCells = 16, nProbe = 6)
    val bf = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5)
    // every query answered
    assert(ivf.select("query_id").distinct().count() === 5)
    // recall@5 ≥ 40% on average (deterministic corpus → stable number)
    val hits = ivf.select("query_id", "id")
      .intersect(bf.select("query_id", "id")).count()
    assert(hits >= 10, s"recall too low: $hits/25")
  }

  test("persisted index: probes are partition-pruned and match in-memory ivf") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-idx").toString
    val corpus = vectors(300)
    val queries = corpus.where(col("vec_id") < 5)
    Ivf.writeIndex(corpus, "vec_id", "embedding", dir, nCells = 16,
      kmeansIters = 1)
    val probed = Ivf.probeIndex(spark, dir, queries, "vec_id", "embedding",
      k = 5, nProbe = 6)
    probed.count()
    // the cells scan carries the probe set in its partition filters —
    // unprobed cell partitions are never read
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell#"),
      plan.take(3000))
    val inMem = Ivf.ivfTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, nCells = 16, nProbe = 6,
      kmeansIters = 1)
    assert(probed.exceptAll(inMem).isEmpty && inMem.exceptAll(probed).isEmpty)
  }

  test("appendToIndex: stored-quantizer assignment, replay guard, probe parity") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-append").toString
    val a = vectors(240)
    val b = vectors(300).where(col("vec_id") >= 240)  // disjoint ingest batch
    val all = vectors(300)
    val queries = all.where(col("vec_id") < 4)
    Ivf.writeIndex(a, "vec_id", "embedding", dir, nCells = 8, kmeansIters = 1)

    assert(Ivf.appendToIndex(spark, dir, b, "vec_id", "embedding", batchId = 1L))
    // replay of the same batch is a no-op (idempotent under checkpoint replay)
    assert(!Ivf.appendToIndex(spark, dir, b, "vec_id", "embedding", batchId = 1L))

    val cells = spark.read.parquet(s"$dir/cells")
    assert(cells.count() === 300)
    assert(cells.where(col("batch_id") === 1L).count() === 60)

    // every appended row sits in the cell the STORED centroids assign —
    // the quantizer must not have drifted between build and append
    val cents = spark.read.parquet(s"$dir/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val expected = Ivf.assignCells(all, "vec_id", "embedding", cents)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    cells.select(col("id"), col("cell")).collect().foreach { r =>
      assert(expected(r.getLong(0)) === r.getInt(1), s"id=${r.getLong(0)}")
    }

    // full-probe search over the appended index == brute force over A∪B:
    // appended rows are first-class candidates immediately
    val probed = Ivf.probeIndex(spark, dir, queries, "vec_id", "embedding",
        k = 5, nProbe = 8)
      .select("query_id", "id", "rank")
    val bf = Similarity.bruteForceTopK(all, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5)
      .select("query_id", "id", "rank")
    assert(probed.exceptAll(bf).isEmpty && bf.exceptAll(probed).isEmpty)

    // partition pruning on cell survives the extra batch_id level
    val pruned = Ivf.probeIndex(spark, dir, queries, "vec_id", "embedding",
      k = 5, nProbe = 2)
    pruned.count()
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell#"),
      plan.take(3000))

    // batchId 0 is reserved for the initial build
    val e = intercept[IllegalArgumentException] {
      Ivf.appendToIndex(spark, dir, b, "vec_id", "embedding", batchId = 0L)
    }
    assert(e.getMessage.contains("batchId"))
  }

  test("compactIndex: batches fold to one partition, re-crawled ids last-writer-wins") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivf-compact").toString
    val a = vectors(200)
    Ivf.writeIndex(a, "vec_id", "embedding", dir, nCells = 8, kmeansIters = 1)
    // batch 1: 20 new ids + a RE-CRAWL of id 7 with a different vector
    val recrawled = (7L, Array.fill(16)(0.25f))
    val fresh = vectors(220).where(col("vec_id") >= 200)
    val b = fresh.union(Seq(recrawled).toDF("vec_id", "embedding"))
    assert(Ivf.appendToIndex(spark, dir, b, "vec_id", "embedding", batchId = 1L))
    // pre-compaction: the re-crawled id is visible under BOTH versions
    assert(spark.read.parquet(s"$dir/cells")
      .where(col("id") === 7L).count() === 2)
    // a second batch, so compaction folds batch 1 into a HIGHER max and
    // its replay can only be caught by the watermark (its dir is gone)
    val c = vectors(230).where(col("vec_id") >= 220)
    assert(Ivf.appendToIndex(spark, dir, c, "vec_id", "embedding", batchId = 2L))

    Ivf.compactIndex(spark, dir)
    val cells = spark.read.parquet(s"$dir/cells")
    assert(cells.count() === 230, "one row per distinct id after compaction")
    // exactly one batch partition remains (the max id); replays of BOTH
    // folded batches stay guarded no-ops — batch 2 via its dir, batch 1
    // via the compaction watermark (its dir no longer exists)
    val batchDirs = new java.io.File(s"$dir/cells").listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).toSeq
    assert(batchDirs === Seq("batch_id=2"))
    assert(!Ivf.appendToIndex(spark, dir, c, "vec_id", "embedding", batchId = 2L))
    assert(!Ivf.appendToIndex(spark, dir, b, "vec_id", "embedding", batchId = 1L))
    assert(spark.read.parquet(s"$dir/cells").count() === 230)
    // last writer won: id 7 carries batch 1's vector (and its cell)
    val row7 = cells.where(col("id") === 7L).collect()
    assert(row7.length === 1)
    assert(row7(0).getAs[scala.collection.Seq[Float]]("v").forall(_ === 0.25f))
    // probes still work and stay partition-pruned after the swap
    val probed = Ivf.probeIndex(spark, dir,
      a.where(col("vec_id") < 3), "vec_id", "embedding", k = 5, nProbe = 3)
    assert(probed.groupBy("query_id").count().collect()
      .forall(_.getLong(1) === 5L))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell#"),
      plan.take(3000))
    // idempotent: a second compaction of a single-partition index is a no-op
    Ivf.compactIndex(spark, dir)
    assert(spark.read.parquet(s"$dir/cells").count() === 230)
    // a REBUILD restarts the batch clock: the stale watermark must not
    // swallow the fresh index's early batches
    Ivf.writeIndex(a, "vec_id", "embedding", dir, nCells = 8, kmeansIters = 1)
    assert(Ivf.appendToIndex(spark, dir, b, "vec_id", "embedding", batchId = 1L))
    assert(spark.read.parquet(s"$dir/cells")
      .where(col("id") === 7L).count() === 2)
  }

  test("cell assignment is a narrow plan (no shuffle)") {
    val corpus = vectors(100)
    val centroids = Ivf.pickCentroids(corpus, "vec_id", "embedding", 8)
    assert(centroids.length === 8)
    val assigned = Ivf.assignCells(corpus, "vec_id", "embedding", centroids)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // every row lands in exactly one existing cell
    val cells = assigned.select("cell").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(cells.subsetOf((0 until 8).toSet))
  }

  test("recall@k is monotone in nProbe and hits 1.0 at nProbe == nCells") {
    val corpus = vectors(300)
    val queries = corpus.where(col("vec_id") < 5)
    val bf = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5)
      .select("query_id", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(nProbe: Int): Double = {
      val ivf = Ivf.ivfTopK(corpus, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5, nCells = 16, nProbe = nProbe,
          kmeansIters = 0)
        .select("query_id", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      ivf.intersect(bf).size.toDouble / bf.size
    }
    val rs = Seq(1, 4, 8, 16).map(recall)
    assert(rs === rs.sorted, s"recall not monotone in nProbe: $rs")
    assert(rs.last === 1.0, s"full probe must equal brute force: $rs")
    assert(rs.head > 0.0)
  }

  test("kmeans cell means: narrow at dim 512, match the dim-scalar form at toy dim") {
    // toy dim: the exploded (cell, pos) aggregation must reproduce the
    // dim-scalar `avg(element_at(v, i))` form it replaced (same value
    // sets per (cell, pos), both double-averaged)
    val corpus = vectors(200, dim = 8)
    val cents = Ivf.pickCentroids(corpus, "vec_id", "embedding", 4)
    val assigned = Ivf.assignCells(
      corpus.select(col("vec_id").as("id"), col("embedding").as("v")),
      "id", "v", cents)
    val exploded = Ivf.cellMeans(assigned)
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toSeq).toMap
    val scalarAggs = (1 to 8).map(i => avg(element_at(col("v"), i)).as(s"m$i"))
    val scalar = assigned.groupBy(col("cell"))
      .agg(scalarAggs.head, scalarAggs.tail: _*)
      .collect()
      .map(r => r.getInt(0) -> (1 to 8).map(i => r.getDouble(i).toFloat).toSeq)
      .toMap
    assert(exploded.keySet === scalar.keySet)
    exploded.foreach { case (cell, m) =>
      m.zip(scalar(cell)).foreach { case (a, b) =>
        assert(math.abs(a - b) <= 1e-6f * math.max(1.0f, math.abs(b)),
          s"cell $cell: $a vs $b")
      }
    }
    // dim 512 — the regime where the scalar form exceeds
    // spark.sql.codegen.maxFields (100) and falls out of whole-stage
    // codegen with a multi-KB buffer row: the exploded plan must stay
    // fully whole-stage-codegen'd and produce full-width centroids
    val corpus512 = vectors(60, dim = 512)
    val cents512 = Ivf.pickCentroids(corpus512, "vec_id", "embedding", 2)
    val means512 = Ivf.cellMeans(Ivf.assignCells(
      corpus512.select(col("vec_id").as("id"), col("embedding").as("v")),
      "id", "v", cents512))
    val got = means512.collect().map(r => r.getInt(0) -> r.getSeq[Float](1))
    // plan read AFTER the action on the SAME frame: pre-execution AQE
    // plans carry no WholeStageCodegen `*(n)` markers yet
    // the adaptive plan prints Final Plan + Initial Plan — only the final
    // (executed) section carries the codegen markers
    val plan = means512.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the full-corpus avg aggregation must be codegen'd HashAggregates
    // (the `*(n)` prefix); the collect_list reassembly is an
    // ObjectHashAggregate by nature but only ever sees nCells×dim rows
    val aggLines = plan.linesIterator
      .filter(l => l.contains("HashAggregate") &&
        !l.contains("ObjectHashAggregate")).toSeq
    assert(aggLines.nonEmpty && aggLines.forall(_.contains("*(")),
      s"hash aggregates fell out of whole-stage codegen:\n${aggLines.mkString("\n")}")
    assert(got.nonEmpty && got.forall(_._2.length === 512))
  }

  test("drift lifecycle: in-distribution appends stay flat, a drifted " +
    "batch trips the statistic, retrain restores assignment quality") {
    import spark.implicits._
    val dir = tmpDir("ivf-drift")
    val base = graft.VecGen.vecs(spark, 2000, dim = 16, nClusters = 8,
      seed = 13L)
    Ivf.writeIndex(base, "vec_id", "embedding", dir, nCells = 8,
      kmeansIters = 1)
    // in-distribution batch: the SAME generator, later ids
    val inDist = graft.VecGen.vecs(spark, 2400, dim = 16, nClusters = 8,
      seed = 13L).where($"vec_id" >= 2000)
    assert(Ivf.appendToIndex(spark, dir, inDist, "vec_id", "embedding", 1L))
    // drifted batch: a different seed → entirely different cluster
    // structure, far from the frozen coarse quantizer
    val drifted = graft.VecGen.vecs(spark, 400, dim = 16, nClusters = 8,
        seed = 99L)
      .select(($"vec_id" + 10000L).as("vec_id"), $"embedding")
    assert(Ivf.appendToIndex(spark, dir, drifted, "vec_id", "embedding", 2L))
    val rep = Ivf.driftReport(spark, dir).orderBy("batch_id")
      .select("batch_id", "mean_drop_micro", "ref_mean_cos_micro",
        "ref_p10_cos_micro")
      .as[(Long, Long, Long, Long)].collect()
    assert(rep.map(_._1).toSeq === Seq(1L, 2L))
    val (dropIn, dropDrift) = (rep(0)._2, rep(1)._2)
    val refSpread = rep(0)._3 - rep(0)._4 // build mean − build p10
    // the documented trigger: in-distribution drop stays well inside the
    // build corpus's own spread; the drifted batch's drop exceeds it
    assert(math.abs(dropIn) < refSpread,
      s"in-dist batch tripped the trigger: drop $dropIn vs spread $refSpread")
    assert(dropDrift > refSpread,
      s"drifted batch missed the trigger: drop $dropDrift vs spread $refSpread")
    // retrain-and-swap: same live rows, quantizer refit to the drifted
    // population — the drifted rows' assigned quality must recover
    val liveBefore = Ivf.liveRows(spark, dir).count()
    Ivf.retrainIndex(spark, dir, nCells = 8, kmeansIters = 1)
    assert(Ivf.liveRows(spark, dir).count() === liveBefore)
    // per-batch drift rows were cleared with the old reference
    assert(!new java.io.File(s"$dir/drift").exists())
    // re-append the SAME drifted vectors as a fresh batch against the
    // RETRAINED quantizer: the drop must come back inside the trigger
    val again = drifted.select(($"vec_id" + 20000L).as("vec_id"),
      $"embedding")
    assert(Ivf.appendToIndex(spark, dir, again, "vec_id", "embedding", 1L))
    val rep2 = Ivf.driftReport(spark, dir)
      .select("mean_drop_micro", "ref_mean_cos_micro", "ref_p10_cos_micro")
      .as[(Long, Long, Long)].head()
    assert(rep2._1 < rep2._2 - rep2._3,
      s"retrain did not recover the drifted population: $rep2")
    // probes still serve the full live set after the swap
    val queries = drifted.where($"vec_id" < 10005)
    val got = Ivf.probeIndex(spark, dir, queries, "vec_id", "embedding",
      k = 3, nProbe = 8).select("query_id").distinct().count()
    assert(got === 5L)
  }

  test("appendToIndex: a replay restores a batch's missing drift row, once") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-drift-replay").toString
    Ivf.writeIndex(vectors(240), "vec_id", "embedding", dir, nCells = 8, kmeansIters = 1)
    val b1 = vectors(300).where(col("vec_id") >= 240)
    val b2 = vectors(360).where(col("vec_id") >= 300)
    assert(Ivf.appendToIndex(spark, dir, b1, "vec_id", "embedding", batchId = 1L))
    assert(Ivf.appendToIndex(spark, dir, b2, "vec_id", "embedding", batchId = 2L))
    def driftRows = Ivf.driftReport(spark, dir).orderBy("batch_id").collect().toSeq
    val before = driftRows
    // a crash between batch 1's cells append and its drift row
    val kept = spark.read.parquet(s"$dir/drift").where(col("batch_id") =!= 1L)
      .localCheckpoint(true)
    kept.write.mode("overwrite").parquet(s"$dir/drift")
    assert(driftRows.map(_.getAs[Long]("batch_id")) === Seq(2L))

    // the replay is still a no-op for the cells but brings the row back
    assert(!Ivf.appendToIndex(spark, dir, b1, "vec_id", "embedding", batchId = 1L))
    assert(driftRows === before)
    assert(!Ivf.appendToIndex(spark, dir, b1, "vec_id", "embedding", batchId = 1L))
    assert(driftRows === before)
    assert(spark.read.parquet(s"$dir/cells").count() === 360)
  }
}

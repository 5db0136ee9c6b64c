package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.IvfModel

/**
 * Sampled + distributed-refinement k-means (the 100 TB training path):
 * determinism, quality vs the full local Lloyd train, and that
 * refinement passes actually help a deliberately-crippled init.
 */
class IvfTrainSpec extends SparkSpec {

  private lazy val emb: DataFrame =
    queries.Tables.table(spark, sfDir, "embeddings")

  private lazy val data: Array[Array[Float]] =
    emb.select(col("embedding").cast("array<float>")).collect()
      .map(_.getSeq[Float](0).toArray)

  /** Mean squared L2 distance to the nearest centroid. */
  private def inertia(m: IvfModel): Double = {
    val total = data.map { v =>
      m.centroids.map { c =>
        var d = 0.0; var j = 0
        while (j < v.length) { val x = v(j) - c(j); d += x * x; j += 1 }
        d
      }.min
    }.sum
    total / data.length
  }

  test("trainSampled is deterministic") {
    val a = IvfModel.trainSampled(emb, "embedding", nlist = 8,
      sampleBudgetElements = 64L * 100, refineIters = 2)
    val b = IvfModel.trainSampled(emb, "embedding", nlist = 8,
      sampleBudgetElements = 64L * 100, refineIters = 2)
    assert(a.centroids.length == b.centroids.length)
    a.centroids.zip(b.centroids).foreach { case (x, y) =>
      assert(x.sameElements(y))
    }
  }

  test("sampling + refinement lands near full-train quality") {
    // full train: all 500 rows fit the local path
    val full = IvfModel.train(emb, "embedding", nlist = 8)
    // forced sampling: budget of 100 rows (20% of the data), 2 refinements
    val sampled = IvfModel.trainSampled(emb, "embedding", nlist = 8,
      sampleBudgetElements = 64L * 100, refineIters = 2)
    val (fi, si) = (inertia(full), inertia(sampled))
    assert(si <= fi * 1.3,
      s"sampled-train inertia $si too far above full-train $fi")
  }

  test("refinement improves a crippled 10%-sample init") {
    val raw = IvfModel.trainSampled(emb, "embedding", nlist = 8,
      sampleBudgetElements = 64L * 50, refineIters = 0)
    val refined = IvfModel.trainSampled(emb, "embedding", nlist = 8,
      sampleBudgetElements = 64L * 50, refineIters = 2)
    assert(inertia(refined) <= inertia(raw) * 1.0001,
      "Lloyd refinement must not worsen inertia")
  }

  test("trainDistributed is deterministic and near full-train quality") {
    val a = IvfModel.trainDistributed(emb, "embedding", nlist = 8, maxIter = 6)
    val b = IvfModel.trainDistributed(emb, "embedding", nlist = 8, maxIter = 6)
    a.centroids.zip(b.centroids).foreach { case (x, y) =>
      assert(x.sameElements(y))
    }
    val full = IvfModel.train(emb, "embedding", nlist = 8)
    assert(inertia(a) <= inertia(full) * 1.3,
      s"distributed-train inertia ${inertia(a)} too far above full ${inertia(full)}")
  }

  test("trainDistributed with graph-routed assignment: deterministic, near-exact quality") {
    // the large-k opt-in: Lloyd passes assign via an HNSW beam over the
    // centroids instead of the exact nlist*dim scan
    val approx = IvfModel.trainDistributed(emb, "embedding", nlist = 16,
      maxIter = 6, approxAssignEf = 32)
    val again = IvfModel.trainDistributed(emb, "embedding", nlist = 16,
      maxIter = 6, approxAssignEf = 32)
    approx.centroids.zip(again.centroids).foreach { case (x, y) =>
      assert(x.sameElements(y), "graph-assigned training must be deterministic")
    }
    val exact = IvfModel.trainDistributed(emb, "embedding", nlist = 16, maxIter = 6)
    val (ai, ei) = (inertia(approx), inertia(exact))
    info(f"inertia exact=$ei%.4f graph-assigned=$ai%.4f")
    assert(ai <= ei * 1.3,
      s"graph-assigned inertia $ai too far above exact-assignment $ei")
    // per-row assignment agreement with the exact scan stays high
    val model = exact
    val agree = emb.select(
        (model.assignColumn(col("embedding")) ===
          model.assignColumnApprox(col("embedding"), 32)).cast("int").as("ok"))
      .agg(avg("ok")).collect()(0).getDouble(0)
    info(f"graph-vs-exact assignment agreement = $agree%.2f")
    assert(agree >= 0.9, s"assignment agreement collapsed: $agree")
  }

  test("SemDedup.trainModel switches to graph-routed assignment past approxAssignMinK") {
    import spark.implicits._
    import graft.model.GraftConfig
    // n·k = 3.07e6 crosses the 3e6 driver-flop budget (=> distributed
    // trainer) AND k >= approxAssignMinK (=> graph-routed assignment)
    val rnd = new scala.util.Random(5)
    val big = (0 until 3000).map(i =>
        (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("id", "embedding").localCheckpoint(true)
    val k = 1024
    // pull the threshold down to the fixture's k for the switch test
    // (the production default sits above maxAutoNlist by calibration —
    // see GraftConfig.approxAssignMinK scaladoc)
    val auto = graft.operators.SemDedup.trainModel(big, "embedding", nlist = k,
      approxAssignMinK = k)
    val viaApprox = IvfModel.trainDistributed(big, "embedding", nlist = k,
      maxIter = 6, approxAssignEf = GraftConfig.approxAssignEf)
    auto.centroids.zip(viaApprox.centroids).foreach { case (x, y) =>
      assert(x.sameElements(y), "trainModel did not take the graph-routed path")
    }
    // below the threshold the exact path is taken, bit-for-bit
    val exact = graft.operators.SemDedup.trainModel(big, "embedding", nlist = k,
      approxAssignMinK = Int.MaxValue)
    val viaExact = IvfModel.trainDistributed(big, "embedding", nlist = k, maxIter = 6)
    exact.centroids.zip(viaExact.centroids).foreach { case (x, y) =>
      assert(x.sameElements(y), "raised threshold did not restore the exact path")
    }
    // inertia parity AT the switch point — the gate for task-4 wiring
    def inertiaOn(m: IvfModel): Double = {
      val rows = big.select(col("embedding")).collect().map(_.getSeq[Float](0).toArray)
      rows.map { v =>
        m.centroids.map { c =>
          var d = 0.0; var j = 0
          while (j < v.length) { val x = v(j) - c(j); d += x * x; j += 1 }
          d
        }.min
      }.sum / rows.length
    }
    val (ai, ei) = (inertiaOn(auto), inertiaOn(exact))
    info(f"switch-point inertia exact=$ei%.4f graph-routed=$ai%.4f")
    assert(ai <= ei * 1.2,
      s"graph-routed inertia $ai too far above exact $ei at the switch point")
  }

  test("trainMiniBatch is deterministic and near full-train quality") {
    val a = IvfModel.trainMiniBatch(emb, "embedding", nlist = 8,
      batchRows = 64L)
    val b = IvfModel.trainMiniBatch(emb, "embedding", nlist = 8,
      batchRows = 64L)
    a.centroids.zip(b.centroids).foreach { case (x, y) =>
      assert(x.sameElements(y), "mini-batch training must be deterministic")
    }
    val full = IvfModel.train(emb, "embedding", nlist = 8)
    val (mi, fi) = (inertia(a), inertia(full))
    info(f"inertia full=$fi%.4f mini-batch=$mi%.4f")
    assert(mi <= fi * 1.3,
      s"mini-batch inertia $mi too far above full-train $fi")
  }

  test("trainMiniBatch nHint overcount changes nothing but the scan") {
    // nHint only sizes the batch-id modulus; an overcount (e.g. the
    // caller's row count including null embeddings) must not change
    // the result class of guarantees — same determinism, same quality
    val hinted = IvfModel.trainMiniBatch(emb, "embedding", nlist = 8,
      batchRows = 64L, nHint = 1000L)
    val again = IvfModel.trainMiniBatch(emb, "embedding", nlist = 8,
      batchRows = 64L, nHint = 1000L)
    hinted.centroids.zip(again.centroids).foreach { case (x, y) =>
      assert(x.sameElements(y))
    }
    val full = IvfModel.train(emb, "embedding", nlist = 8)
    assert(inertia(hinted) <= inertia(full) * 1.3)
  }

  test("SemDedup.trainModel routes to mini-batch past the flop margin") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val big = (0 until 3000).map(i =>
        (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("id", "embedding").localCheckpoint(true)
    val k = 1024 // n·k = 3.07e6 crosses the driver budget
    // margin 0 forces the mini-batch route
    val auto = graft.operators.SemDedup.trainModel(big, "embedding", nlist = k,
      miniBatchMargin = 0.0)
    val direct = IvfModel.trainMiniBatch(big, "embedding", nlist = k,
      nHint = 3000L)
    auto.centroids.zip(direct.centroids).foreach { case (x, y) =>
      assert(x.sameElements(y), "trainModel did not take the mini-batch path")
    }
    // the production default keeps this fixture on the exact path
    // (flop ratio 6·3000/(15·8192) ≈ 0.15 « margin)
    val viaExact = IvfModel.trainDistributed(big, "embedding", nlist = k,
      maxIter = 6)
    val auto2 = graft.operators.SemDedup.trainModel(big, "embedding", nlist = k)
    auto2.centroids.zip(viaExact.centroids).foreach { case (x, y) =>
      assert(x.sameElements(y), "default margin must keep the exact path here")
    }
  }

  test("trainDistributed clamps k to the distinct-vector count") {
    import spark.implicits._
    val dups = Seq.fill(20)(Seq(1.0f, 0.0f)) ++ Seq.fill(20)(Seq(0.0f, 1.0f))
    val df = dups.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "embedding")
    val m = IvfModel.trainDistributed(df, "embedding", nlist = 8)
    assert(m.centroids.length == 2)
    // two point masses: Lloyd lands exactly on them
    assert(m.centroids.map(_.toSeq).toSet ==
      Set(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)))
  }

  test("large-k and array<double> inputs survive the sampled path") {
    val doubled = emb.select(col("embedding").cast("array<double>").as("e"))
    val m = IvfModel.trainSampled(doubled, "e", nlist = 64,
      sampleBudgetElements = 64L * 400, refineIters = 1)
    assert(m.nlist == 64)
    assert(m.centroids.forall(_.length == 64))
  }
}

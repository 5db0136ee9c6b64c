package graft

import org.apache.spark.sql.functions._

import graft.index.{IvfModel, LshModel}
import graft.operators.Similarity

/**
 * ANN recall at SCALE — one row per facade tier at its tuned
 * parameters, run against the ScaleGen fixtures (data/sf1 = 20k
 * vectors, data/sf10 = 200k = exactly HnswModel.maxGraphVectors, the
 * cap-boundary build). Complements [[RecallReport]] (the full
 * parameter grid at sweep-corpus scale, RECALL.md): this report's job
 * is to show each tier's recall FLOOR holds when the corpus grows
 * 40x/400x, and to exercise the two big-case paths that only exist at
 * scale — the direct HNSW build at the cap, and the IVF centroid
 * probe auto-switching onto the HNSW-over-centroids coarse graph
 * (nlist 1024 >= GraftConfig.hnswCoarseMinNlist at sf10).
 *
 * Recall definition matches RECALL.md: mean over 30 queries of
 * |candidates ∩ exact top-10| / 10 — CANDIDATE recall, the ceiling any
 * downstream exact rerank can reach.
 */
object RecallScaleReport {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/data/sf1")
    val nQueries = 30
    val spark = GraftSession.builder(GraftSession.cpus(32))
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
    val n = emb.count()
    val queries = emb.filter(col("vec_id") < nQueries)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    val exact = queries.map { case (id, q) =>
      id -> Similarity.knnExact(emb, "vec_id", "embedding", q, 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }.toMap

    println(s"# ANN recall at scale — $sfDir (n=$n vectors, $nQueries queries, k=10)\n")
    println("| tier | params | mean recall@10 | mean cand fraction | build s | notes |")
    println("|---|---|---|---|---|---|")

    def row(tier: String, params: String, buildSec: Double, notes: String)(
        cands: Array[Float] => Set[Long]): Unit = {
      val stats = queries.map { case (id, q) =>
        val c = cands(q)
        (c.intersect(exact(id)).size / 10.0, c.size.toDouble / n)
      }
      val recall = stats.map(_._1).sum / stats.length
      val frac = stats.map(_._2).sum / stats.length
      println(f"| $tier | $params | $recall%.2f | $frac%.4f | $buildSec%.1f | $notes |")
    }

    // LSH at the measured recall preset (GraftConfig.lshRecallPreset)
    locally {
      val p = graft.model.GraftConfig.lshRecallPreset
      val lsh = LshModel(numTables = p.numTables, bitsPerTable = p.bitsPerTable, dim = 64)
      val (sigs, bs) = timed { val s = lsh.build(emb, "vec_id", "embedding").cache(); s.count(); s }
      row("LSH multi-probe", s"${p.numTables}x${p.bitsPerTable} flips=${p.flips}", bs, "recall preset")(
        q => lsh.multiProbeCandidates(sigs, q, p.flips).collect().map(_.getLong(0)).toSet)
      sigs.unpersist()
    }

    // IVF — nlist scaled ~sqrt(n); at sf10 nlist=1024 crosses
    // hnswCoarseMinNlist, so probes ride the HNSW-over-centroids graph
    val nlist = if (n >= 100000) 1024 else 128
    locally {
      val (model, bs) = timed(IvfModel.train(emb, "embedding", nlist = nlist))
      val assigned = model.assign(emb, "embedding").cache()
      assigned.count()
      val coarse = if (nlist >= graft.model.GraftConfig.hnswCoarseMinNlist) {
        // big-case path: quantify graph-vs-linear probe agreement
        val agree = queries.map { case (_, q) =>
          val g = model.probe(q, 16).toSet
          g.intersect(model.probeLinear(q, 16).toSet).size / 16.0
        }.sum / queries.length
        f"HNSW coarse graph ACTIVE, probe agreement $agree%.2f"
      } else "linear centroid scan"
      for (nprobe <- Seq(8, 16))
        row("IVF", s"nlist=$nlist nprobe=$nprobe", bs, coarse)(
          q => model.candidates(assigned, q, nprobe)
            .select("vec_id").collect().map(_.getLong(0)).toSet)
      assigned.unpersist()
    }

    // PQ ADC tier (fetch scales with n: 0.1% of corpus, >= 100)
    val fetch = math.max(100, (n / 1000).toInt)
    locally {
      val (pq, bs) = timed(graft.index.PqModel.train(emb, "embedding", m = 8, k = 16))
      val enc = emb.select(col("vec_id"), pq.encodeColumn(col("embedding")).as("codes")).cache()
      enc.count()
      row("PQ", s"8x16 fetch=$fetch", bs, "ADC candidate tier")(
        q => pq.candidates(enc, "codes", q, fetch)
          .select("vec_id").collect().map(_.getLong(0)).toSet)
      enc.unpersist()
    }

    // IVF-PQ and the OPQ-rotated stack
    locally {
      val (m1, bs1) = timed(graft.index.IvfPqModel.train(emb, "embedding",
        nlist = nlist, m = 8, k = 16))
      val e1 = m1.encode(emb, "vec_id", "embedding").cache()
      e1.count()
      row("IVF-PQ", s"nlist=$nlist nprobe=16 fetch=$fetch", bs1, "residual codes")(
        q => m1.candidates(e1, q, nprobe = 16, n = fetch)
          .select("id").collect().map(_.getLong(0)).toSet)
      e1.unpersist()
      val (m2, bs2) = timed(graft.index.OpqIvfPqModel.train(emb, "embedding",
        nlist = nlist, m = 8, k = 16))
      val e2 = m2.encode(emb, "vec_id", "embedding").cache()
      e2.count()
      row("OPQ+IVF-PQ", s"nlist=$nlist nprobe=16 fetch=$fetch", bs2, "rotated residuals")(
        q => m2.candidates(e2, q, nprobe = 16, n = fetch)
          .select("id").collect().map(_.getLong(0)).toSet)
      e2.unpersist()
    }

    // Direct HNSW graph — at sf10 n == maxGraphVectors exactly: the
    // cap-boundary build the facade allows
    locally {
      val cap = graft.index.HnswModel.maxGraphVectors
      if (n <= cap) {
        val (g, bs) = timed(graft.index.HnswModel.build(emb, "vec_id", "embedding"))
        val note = if (n == cap) s"n == maxGraphVectors ($cap): AT-CAP build"
          else s"direct graph (cap $cap)"
        row("HNSW", "M=16 efC=200 ef=100 fetch=50", bs, note)(
          q => g.search(q, 50, 100).map(_._1).toSet)
      } else println(s"| HNSW | - | - | - | - | n=$n > cap $cap: refused (IVF tiers above are the path) |")
    }

    spark.stop()
  }
}

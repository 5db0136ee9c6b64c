package graft

import org.apache.spark.sql.functions._

import graft.index.{IvfModel, LshModel}
import graft.operators.Similarity

/**
 * ANN quality sweep — the recall/cost metric the reference never
 * measured (SURVEY.md §6). For a grid of LSH (tables x bits) and IVF
 * (nlist, nprobe) parameters, reports mean recall@10 vs the exact
 * oracle and the mean candidate-set fraction (the work an approximate
 * probe actually does). Markdown to stdout; redirect into RECALL.md.
 */
object RecallReport {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nQueries = 30
    val spark = GraftSession.builder(16).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
    val n = emb.count()
    val queries = emb.filter(col("vec_id") < nQueries)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)

    def exactTop(q: Array[Float]): Set[Long] =
      Similarity.knnExact(emb, "vec_id", "embedding", q, 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    val exact = queries.map { case (id, q) => id -> exactTop(q) }.toMap

    println(s"# ANN recall/cost sweep — ${sfDir} (n=$n vectors, $nQueries queries, k=10)\n")

    println("## LSH (random hyperplanes, seeded)\n")
    println("| tables | bits | mean recall@10 | mean candidate fraction |")
    println("|---|---|---|---|")
    for (tables <- Seq(4, 8, 16); bits <- Seq(4, 6, 8, 10)) {
      val lsh = LshModel(numTables = tables, bitsPerTable = bits, dim = 64)
      val sigs = lsh.build(emb, "vec_id", "embedding").cache()
      val stats = queries.map { case (id, q) =>
        val cands = lsh.candidates(sigs, q).collect().map(_.getLong(0)).toSet
        val approx = cands.intersect(exact(id))
        (approx.size / 10.0, cands.size.toDouble / n)
      }
      sigs.unpersist()
      val recall = stats.map(_._1).sum / stats.length
      val frac = stats.map(_._2).sum / stats.length
      println(f"| $tables | $bits | $recall%.2f | $frac%.3f |")
    }

    println("\n## Multi-probe LSH (Lv et al. 2007; flips = extra low-|dot| bit probes per table)\n")
    println("| tables | bits | flips | mean recall@10 | mean candidate fraction |")
    println("|---|---|---|---|---|")
    for (tables <- Seq(8, 16); bits <- Seq(6, 8, 10); flips <- Seq(0, 1, 2, 3, 4)) {
      val lsh = LshModel(numTables = tables, bitsPerTable = bits, dim = 64)
      val sigs = lsh.build(emb, "vec_id", "embedding").cache()
      val stats = queries.map { case (id, q) =>
        val cands = lsh.multiProbeCandidates(sigs, q, flips)
          .collect().map(_.getLong(0)).toSet
        (cands.intersect(exact(id)).size / 10.0, cands.size.toDouble / n)
      }
      sigs.unpersist()
      val recall = stats.map(_._1).sum / stats.length
      val frac = stats.map(_._2).sum / stats.length
      println(f"| $tables | $bits | $flips | $recall%.2f | $frac%.3f |")
    }

    println("\n## IVF (k-means, seeded)\n")
    println("| nlist | nprobe | mean recall@10 | mean candidate fraction |")
    println("|---|---|---|---|")
    for (nlist <- Seq(8, 16, 32); nprobe <- Seq(1, 2, 4, 8) if nprobe <= nlist) {
      val model = IvfModel.train(emb, "embedding", nlist = nlist)
      val assigned = model.assign(emb, "embedding").cache()
      val stats = queries.map { case (id, q) =>
        val cands = model.candidates(assigned, q, nprobe)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        (cands.intersect(exact(id)).size / 10.0, cands.size.toDouble / n)
      }
      assigned.unpersist()
      val recall = stats.map(_._1).sum / stats.length
      val frac = stats.map(_._2).sum / stats.length
      println(f"| $nlist | $nprobe | $recall%.2f | $frac%.3f |")
    }

    println("\n## PQ / OPQ (8x16 codes, ADC candidate tier, top-`fetch` fetched)\n")
    println("| variant | fetch | mean recall@10 | mean candidate fraction |")
    println("|---|---|---|---|")
    locally {
      val pq = graft.index.PqModel.train(emb, "embedding", m = 8, k = 16)
      val opq = graft.index.OpqModel.train(emb, "embedding", m = 8, k = 16, iters = 4)
      val pqEnc = emb.select(col("vec_id"), pq.encodeColumn(col("embedding")).as("codes")).cache()
      val opqEnc = emb.select(col("vec_id"), opq.encodeColumn(col("embedding")).as("codes")).cache()
      for (fetch <- Seq(20, 50, 100)) {
        val sPq = queries.map { case (id, q) =>
          val cands = pq.candidates(pqEnc, "codes", q, fetch)
            .select("vec_id").collect().map(_.getLong(0)).toSet
          (cands.intersect(exact(id)).size / 10.0, cands.size.toDouble / n)
        }
        println(f"| PQ | $fetch | ${sPq.map(_._1).sum / sPq.length}%.2f | ${sPq.map(_._2).sum / sPq.length}%.3f |")
        val sOpq = queries.map { case (id, q) =>
          val cands = opq.candidates(opqEnc, "codes", q, fetch)
            .select("vec_id").collect().map(_.getLong(0)).toSet
          (cands.intersect(exact(id)).size / 10.0, cands.size.toDouble / n)
        }
        println(f"| OPQ (4 iters) | $fetch | ${sOpq.map(_._1).sum / sOpq.length}%.2f | ${sOpq.map(_._2).sum / sOpq.length}%.3f |")
      }
      pqEnc.unpersist(); opqEnc.unpersist()
    }

    println("\n## IVF-PQ vs OPQ+IVF-PQ (nlist=16, nprobe=8, 8x16 residual codes)\n")
    println("| variant | fetch | mean recall@10 | mean candidate fraction |")
    println("|---|---|---|---|")
    locally {
      val ivfpq = graft.index.IvfPqModel.train(emb, "embedding", nlist = 16, m = 8, k = 16)
      val opqIvfpq = graft.index.OpqIvfPqModel.train(emb, "embedding", nlist = 16, m = 8, k = 16)
      val e1 = ivfpq.encode(emb, "vec_id", "embedding").cache()
      val e2 = opqIvfpq.encode(emb, "vec_id", "embedding").cache()
      for (fetch <- Seq(20, 50, 100)) {
        val s1 = queries.map { case (id, q) =>
          val cands = ivfpq.candidates(e1, q, nprobe = 8, n = fetch)
            .select("id").collect().map(_.getLong(0)).toSet
          (cands.intersect(exact(id)).size / 10.0, cands.size.toDouble / n)
        }
        println(f"| IVF-PQ | $fetch | ${s1.map(_._1).sum / s1.length}%.2f | ${s1.map(_._2).sum / s1.length}%.3f |")
        val s2 = queries.map { case (id, q) =>
          val cands = opqIvfpq.candidates(e2, q, nprobe = 8, n = fetch)
            .select("id").collect().map(_.getLong(0)).toSet
          (cands.intersect(exact(id)).size / 10.0, cands.size.toDouble / n)
        }
        println(f"| OPQ+IVF-PQ | $fetch | ${s2.map(_._1).sum / s2.length}%.2f | ${s2.map(_._2).sum / s2.length}%.3f |")
      }
      e1.unpersist(); e2.unpersist()
    }

    println("\n## HNSW (M=16, efConstruction=200; driver graph, broadcast tier)\n")
    println("| ef | fetch | mean recall@10 | mean candidate fraction |")
    println("|---|---|---|---|")
    locally {
      val g = graft.index.HnswModel.build(emb, "vec_id", "embedding")
      for (ef <- Seq(32, 64, 100); fetch <- Seq(10, 50) if fetch <= ef) {
        val stats = queries.map { case (id, q) =>
          val cands = g.search(q, fetch, ef).map(_._1).toSet
          (cands.intersect(exact(id)).size / 10.0, cands.size.toDouble / n)
        }
        println(f"| $ef | $fetch | ${stats.map(_._1).sum / stats.length}%.2f | ${stats.map(_._2).sum / stats.length}%.3f |")
      }
    }
    spark.stop()
  }
}

package graft

import scala.util.Random

import graft.catalog.VectorCatalog
import graft.model._
import graft.search.SearchService

/**
 * Measures what the resident search path's size cap trades
 * (`LocalSearch.maxLibraryFloats`, ARCHITECTURE.md): per library size,
 * the driver heap the resident rows retain, the heap each tier's driver
 * index copy retains, search p50 on the resident path against the
 * Spark plans, interleaved, and each tier's `indexLibrary` time on the
 * driver derivation against the Spark derivation (a second catalog fed
 * the same texts, `driverDerivation = false`; each build also makes the
 * tier's driver copy). 64-dim hashing embedder, 20-40-word texts,
 * k = 10. Heap is read the way the benchmark's `retained_heap_mb` is:
 * used heap after repeated full collections.
 *
 * {{{
 * SPARK_DRIVER_MEM=2g sbt "Test/runMain graft.ResidentCapProbe 1000,10000,100000 exact,lsh,ivf,ivfpq,binary 30"
 * }}}
 */
object ResidentCapProbe {

  private def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  private def p50(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def main(args: Array[String]): Unit = {
    val sizes = args(0).split(",").map(_.toInt)
    val tiers = args(1).split(",")
    val reps = args(2).toInt
    val spark = GraftSession.builder(4).appName("resident-cap-probe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val vocab = (0 until 4000).map(i => s"w$i")
    def text(r: Random): String =
      Seq.fill(20 + r.nextInt(21))(vocab((r.nextGaussian().abs * 600).toInt % vocab.size)).mkString(" ")
    def meta(r: Random): Map[String, String] =
      Map("source" -> s"s${r.nextInt(5)}", "lang" -> s"l${r.nextInt(4)}")

    for (n <- sizes) {
      val r = new Random(n.toLong)
      val cat = new VectorCatalog(spark)
      val ref = new VectorCatalog(spark, driverDerivation = false)
      val svc = new SearchService(cat)
      // an explicit id: the library is admitted on its first view, so
      // the heap its rows retain can be read across that view
      val Seq((lib, doc), (refLib, refDoc)) = Seq(cat, ref).map { c =>
        val lib = c.createLibrary(s"probe-$n", indexType = "exact", id = Some(s"probe-$n")).toOption.get.id
        (lib, c.createDocument(lib, "d").toOption.get.id)
      }
      (0 until n by 10000).foreach { off =>
        val batch = Seq.fill(math.min(10000, n - off))(text(r) -> meta(r))
        cat.createChunks(doc, batch); cat.compact()
        ref.createChunks(refDoc, batch); ref.compact()
      }
      def query() = SearchQuery(queryText = Some(text(r)), k = 10)

      val before = retainedHeapMb()
      assert(cat.residentView(lib).exists(_.length == n), s"library of $n rows is not resident")
      val rowsMb = retainedHeapMb() - before
      println(f"n=$n%7d resident_rows_mb=$rowsMb%8.1f bytes_per_row=${rowsMb * 1048576 / n}%7.0f")

      def seconds(f: => Any): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
      for (tier <- tiers) {
        // alternate which derivation goes first
        val (onDriver, onSpark) = (0 until 3).map { i =>
          def d = seconds(assert(cat.indexLibrary(lib, tier).isRight))
          def s = seconds(assert(ref.indexLibrary(refLib, tier).isRight))
          if (i % 2 == 0) { val a = d; (a, s) } else { val b = s; (d, b) }
        }.unzip
        println(f"n=$n%7d tier=$tier%-7s index_driver_s=${p50(onDriver)}%7.3f index_spark_s=${p50(onSpark)}%7.3f")
        var copy = cat.indexState(lib).flatMap(_.resident)
        (0 until 10).foreach { _ => svc.search(lib, query()); svc.sparkSearch(lib, query()) }
        val (local, remote) = (0 until reps).map { i =>
          val q = query()
          def time(f: => Any): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
          if (i % 2 == 0) { val l = time(svc.search(lib, q)); (l, time(svc.sparkSearch(lib, q))) }
          else { val s = time(svc.sparkSearch(lib, q)); (time(svc.search(lib, q)), s) }
        }.unzip
        // the driver copy's heap: drop the tier (and its cached tables),
        // then release the last reference to the copy
        cat.indexLibrary(lib, "exact")
        ref.indexLibrary(refLib, "exact")
        spark.catalog.clearCache()
        val held = retainedHeapMb()
        val hadCopy = copy.isDefined
        copy = None
        val copyMb = held - retainedHeapMb()
        println(f"n=$n%7d tier=$tier%-7s local_p50_ms=${p50(local)}%8.2f spark_p50_ms=${p50(remote)}%8.2f " +
          f"speedup=${p50(remote) / p50(local)}%6.1fx index_copy_mb=${if (hadCopy) f"$copyMb%.1f" else "-"}")
      }
      cat.compact() // drops the resident rows before the next size
    }
    spark.stop()
  }
}

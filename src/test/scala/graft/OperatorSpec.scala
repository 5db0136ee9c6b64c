package graft
// (chunker tests at the bottom of this suite)

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, Sessionize, TextAnalysis}

/** Hand-computed answers for as-of join, sessionization, text metrics. */
class OperatorSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("asOf picks most recent right row with rt <= lt, per key") {
    val left = Seq(
      (1L, 100L, ts("2024-01-01 10:00:00")),
      (2L, 100L, ts("2024-01-01 12:00:00")),
      (3L, 200L, ts("2024-01-01 09:00:00"))
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (100L, ts("2024-01-01 09:30:00"), 10L, 1.0),
      (100L, ts("2024-01-01 11:00:00"), 11L, 2.0),
      (200L, ts("2024-01-01 10:00:00"), 12L, 3.0) // AFTER left row 3
    ).toDF("user_id", "ts", "sig_id", "value")

    val out = AsOfJoin.asOf(left, right, Seq("user_id"), "ts", "ts", Seq("value"), "sig_id")
      .select($"event_id", $"asof_value").as[(Long, Option[Double])]
      .collect().toMap
    assert(out(1L).contains(1.0))  // 09:30 row
    assert(out(2L).contains(2.0))  // 11:00 row supersedes
    assert(out(3L).isEmpty)        // no right row at or before 09:00
  }

  test("asOf: right row AT the left timestamp is visible (<= semantics)") {
    val left = Seq((1L, 5L, ts("2024-01-01 10:00:00"))).toDF("event_id", "user_id", "ts")
    val right = Seq((5L, ts("2024-01-01 10:00:00"), 1L, 42.0)).toDF("user_id", "ts", "sig_id", "value")
    val out = AsOfJoin.asOf(left, right, Seq("user_id"), "ts", "ts", Seq("value"), "sig_id")
      .select($"asof_value").as[Option[Double]].head()
    assert(out.contains(42.0))
  }

  test("asOf tie at same right timestamp: max tieBreak wins") {
    val left = Seq((1L, 5L, ts("2024-01-01 10:00:00"))).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (5L, ts("2024-01-01 09:00:00"), 1L, 1.0),
      (5L, ts("2024-01-01 09:00:00"), 2L, 2.0)
    ).toDF("user_id", "ts", "sig_id", "value")
    val out = AsOfJoin.asOf(left, right, Seq("user_id"), "ts", "ts", Seq("value"), "sig_id")
      .select($"asof_value").as[Option[Double]].head()
    assert(out.contains(2.0))
  }

  test("sessionize splits on gaps > threshold") {
    val ev = Seq(
      (1L, 7L, ts("2024-01-01 10:00:00"), 1.0),
      (2L, 7L, ts("2024-01-01 10:10:00"), 1.0), // same session (10 min)
      (3L, 7L, ts("2024-01-01 11:30:00"), 1.0), // gap 80 min -> new session
      (4L, 8L, ts("2024-01-01 10:00:00"), 1.0)  // other user
    ).toDF("event_id", "user_id", "ts", "value")
    val s = Sessionize.sessionize(ev, "user_id", "ts", gapSeconds = 1800, tieBreak = "event_id")
      .select($"event_id", $"session_id").as[(Long, Long)].collect().toMap
    assert(s(1L) == 0 && s(2L) == 0 && s(3L) == 1 && s(4L) == 0)

    val sessions = Sessionize.sessionize(ev, "user_id", "ts", gapSeconds = 1800, tieBreak = "event_id")
      .select("user_id", "session_id").distinct()
    assert(sessions.count() == 3)
  }

  test("text metrics: tokens, counts, langid") {
    val df = Seq(
      (1L, "  The quick the fox  "),
      (2L, ""),
      (3L, "el perro que no es un gato y la casa")
    ).toDF("doc_id", "text")
    val out = df.select($"doc_id",
        TextAnalysis.tokenCount($"text").as("n"),
        TextAnalysis.langId($"text").as("lang"))
      .as[(Long, Int, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L)._1 == 4)
    assert(out(1L)._2 == "en")
    assert(out(2L)._1 == 0)
    assert(out(2L)._2 == "und")
    assert(out(3L)._2 == "es")
  }

  test("shingles: n-grams of tokens, deduplicated") {
    val got = Seq(Tuple1("a b c d")).toDF("text")
      .select(TextAnalysis.shingles($"text", 2).as("s"))
      .as[Seq[String]].head()
    assert(got.toSet == Set("a b", "b c", "c d"))
    val short = Seq(Tuple1("a")).toDF("text")
      .select(TextAnalysis.shingles($"text", 3).as("s")).as[Seq[String]].head()
    assert(short.isEmpty)
  }

  test("embedder: deterministic, unit-norm, batch == single") {
    val e = graft.functions.HashingEmbedder(dimension = 32)
    val v1 = e.embedOne("hello world")
    val v2 = e.embedOne("hello world")
    assert(v1.toSeq == v2.toSeq)
    val norm = math.sqrt(v1.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
    assert(e.embed(Seq("a b", "c d")).map(_.toSeq) ==
      Seq(e.embedOne("a b").toSeq, e.embedOne("c d").toSeq))
    assert(e.embedOne("").forall(_ == 0f)) // empty text -> zero vector
  }

  test("redactPii: email/phone/ip forms replaced in order; counts match") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "reach me at jane.doe+x@corp.example.org or 555-123-4567 host 192.168.1.10"),
      (2L, "no pii here at all"),
      (3L, "two mails a@b.co c@d.io and dotted phone 555.123.4567")
    ).toDF("id", "text")
    val out = df.select($"id",
        TextAnalysis.redactPii($"text").as("r"),
        TextAnalysis.piiCounts($"text").as("c"))
      .orderBy("id").collect()
    assert(out(0).getString(1) == "reach me at <EMAIL> or <PHONE> host <IP>")
    val c1 = out(0).getStruct(2)
    assert((c1.getInt(0), c1.getInt(1), c1.getInt(2)) == ((1, 1, 1)))
    assert(out(1).getString(1) == "no pii here at all")
    assert(out(2).getString(1) == "two mails <EMAIL> <EMAIL> and dotted phone <PHONE>")
    // a dotted phone must NOT double-count as an IP (order contract)
    val c3 = out(2).getStruct(2)
    assert((c3.getInt(0), c3.getInt(1), c3.getInt(2)) == ((2, 1, 0)))
  }

  test("contaminationPairs: shared-shingle docs flagged, clean docs not") {
    import graft.operators.TextAnalysis
    val bench = Seq((100L, "what is the capital of france and why does it matter"))
      .toDF("qid", "q")
    val corpus = Seq(
      (1L, "trivia night asked what is the capital of france and why does it matter to you"),
      (2L, "a completely unrelated discussion of spark shuffle partitioning internals today")
    ).toDF("doc_id", "text")
    val hits = TextAnalysis.contaminationPairs(corpus, "doc_id", "text",
        bench, "qid", "q", n = 8, minOverlap = 1)
      .select("id", "bench_id").as[(Long, Long)].collect().toSet
    assert(hits == Set((1L, 100L)))
  }

  test("chunkByTokens: windows, overlap, tail, and full coverage") {
    import graft.operators.TextAnalysis
    val doc = (1 to 150).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, doc), (2L, "short text"), (3L, "")).toDF("id", "text")
    val out = TextAnalysis.chunkByTokens(df, "id", "text", size = 64, stride = 48)
      .orderBy("id", "chunk_idx")
      .select($"id", $"chunk_idx", $"chunk_text", $"chunk_tokens")
      .as[(Long, Int, String, Int)].collect()
    // doc 1: 150 tokens -> windows at 0, 48, 96 => 3 chunks
    val d1 = out.filter(_._1 == 1L)
    assert(d1.map(_._2).toSeq == Seq(0, 1, 2))
    assert(d1(0)._4 == 64 && d1(1)._4 == 64 && d1(2)._4 == 54) // tail keeps 97..150
    assert(d1(0)._3.startsWith("t1 ") && d1(1)._3.startsWith("t49 ")
      && d1(2)._3.startsWith("t97 ") && d1(2)._3.endsWith(" t150"))
    // overlap: window 1 repeats window 0's last 16 tokens
    assert(d1(0)._3.split(" ").takeRight(16).toSeq == d1(1)._3.split(" ").take(16).toSeq)
    // every token covered exactly once per covering window set
    assert(d1.flatMap(_._3.split(" ")).toSet == (1 to 150).map(i => s"t$i").toSet)
    // doc 2: n <= size -> one whole-doc chunk; doc 3: empty -> no chunks
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0, "short text", 2)))
    assert(!out.exists(_._1 == 3L))
  }

  test("asOf tolerance nulls out stale matches") {
    val left = Seq(
      (1L, 5L, ts("2024-01-01 10:00:00")),
      (2L, 5L, ts("2024-01-01 12:00:00"))
    ).toDF("event_id", "user_id", "ts")
    val right = Seq((5L, ts("2024-01-01 09:50:00"), 1L, 7.0)).toDF("user_id", "ts", "sig_id", "value")
    val out = AsOfJoin.asOf(left, right, Seq("user_id"), "ts", "ts", Seq("value"), "sig_id",
        toleranceSeconds = Some(1800))
      .select($"event_id", $"asof_value").as[(Long, Option[Double])]
      .collect().toMap
    assert(out(1L).contains(7.0))  // 10 min old: within 30-min tolerance
    assert(out(2L).isEmpty)        // 130 min old: stale
  }

  test("temperature mix flattens source shares toward uniform") {
    import graft.operators.Packing
    // skewed synthetic sources (the parquet fixture is uniform): 70/20/10
    val docs = spark.range(1000).select(col("id").as("doc_id"),
      when(col("id") % 10 < 7, "web")
        .when(col("id") % 10 < 9, "books")
        .otherwise("code").as("source"))
    val orig = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = Packing.temperatureMix(docs, "doc_id", "source", alpha = 0.5)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMinSrc = orig.minBy(_._2)._1
    // smallest source keeps everything (threshold = full bucket range)
    assert(kept(nMinSrc) == orig(nMinSrc))
    // shares move toward uniform: the max/min share ratio strictly shrinks
    def ratio(m: Map[String, Long]) = m.values.max.toDouble / m.values.min
    assert(ratio(kept) < ratio(orig),
      s"tempering did not flatten: $orig -> $kept")
    // alpha = 1 is a no-op (thresholds all = buckets)
    val all = Packing.temperatureMix(docs, "doc_id", "source", alpha = 1.0)
    assert(all.count() == docs.count())
    // deterministic: same call, same rows
    val again = Packing.temperatureMix(docs, "doc_id", "source", alpha = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val first = Packing.temperatureMix(docs, "doc_id", "source", alpha = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == first)
  }

  test("snapshot diff: added/removed/changed/same with null-safe payload compare") {
    import graft.operators.SnapshotDiff
    import spark.implicits._
    val a = Seq((1L, Some("x")), (2L, Some("y")), (3L, None: Option[String]),
      (4L, Some("keep"))).toDF("id", "v")
    val b = Seq((2L, Some("y2")), (3L, None: Option[String]), (4L, Some("keep")),
      (5L, Some("new"))).toDF("id", "v")
    val d = SnapshotDiff.diff(a, b, Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(
      1L -> "removed",   // only in old
      2L -> "changed",   // payload differs
      3L -> "same",      // NULL <=> NULL counts as unchanged
      4L -> "same",
      5L -> "added"))    // only in new

    // NULL vs value is a change, both directions
    val a2 = Seq((1L, Some("x")), (2L, None: Option[String])).toDF("id", "v")
    val b2 = Seq((1L, None: Option[String]), (2L, Some("x"))).toDF("id", "v")
    val d2 = SnapshotDiff.diff(a2, b2, Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d2 == Map(1L -> "changed", 2L -> "changed"))

    // a NULL KEY never matches across snapshots: one removed + one
    // added (never a paired "added" misclassification)
    val a3 = Seq((Some(1L), "x"), (None: Option[Long], "x")).toDF("id", "v")
    val b3 = Seq((Some(1L), "x"), (None: Option[Long], "x")).toDF("id", "v")
    val d3 = SnapshotDiff.diff(a3, b3, Seq("id"))
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(1)))
    assert(d3.count(_ == (-1L, "removed")) == 1)
    assert(d3.count(_ == (-1L, "added")) == 1)
    assert(d3.count(_ == (1L, "same")) == 1)
  }

  test("weighted sample: non-positive, null, and NaN weights never win a slot") {
    import graft.operators.Packing
    import spark.implicits._
    val rows = Seq((1L, Some(5.0)), (2L, Some(-3.0)), (3L, Some(0.0)),
      (4L, None: Option[Double]), (5L, Some(Double.NaN)), (6L, Some(1.0)))
      .toDF("id", "w")
    val picked = Packing.weightedSample(rows, "id", "w", m = 6)
      .filter(col("sample_key") =!= lit(Double.PositiveInfinity))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(picked == Set(1L, 6L), s"invalid-weight rows leaked in: $picked")
  }

  test("weighted sample: inclusion scales with weight, deterministic, heap plan") {
    import graft.operators.Packing
    import spark.implicits._
    // 500 light rows (w=1) and 500 heavy rows (w=20): a 100-row sample
    // should be dominated by heavy rows (each is 20x as likely)
    val rows = (0L until 1000L).map(i => (i, if (i < 500) 1.0 else 20.0))
      .toDF("id", "w")
    val picked = Packing.weightedSample(rows, "id", "w", m = 100)
      .select("id").collect().map(_.getLong(0))
    assert(picked.length == 100)
    val heavy = picked.count(_ >= 500L)
    info(s"heavy rows in sample: $heavy/100")
    assert(heavy >= 80, s"weight-20 rows under-represented: $heavy/100")

    // deterministic across runs and partitionings
    val again = Packing.weightedSample(rows.repartition(7), "id", "w", m = 100)
      .select("id").collect().map(_.getLong(0))
    assert(again.sameElements(picked))

    // selection is a heap top-m, not a global sort
    val plan = Packing.weightedSample(rows, "id", "w", m = 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }
}

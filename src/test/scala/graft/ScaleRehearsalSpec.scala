package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** The scale-rehearsal generators are measurement fixtures: their
  * statistical contract (determinism, planted near-dup rate, bounded
  * lengths, fixed value domains) is what makes the per-family
  * exponents in PERF.md comparable across multipliers and rounds —
  * pin it so the harness cannot silently drift.
  */
class ScaleRehearsalSpec extends AnyFunSuite with SparkTest {

  test("corpus: deterministic, 2% planted near-dups, bounded lengths") {
    val a = ScaleRehearsal.corpus(spark, 200).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = ScaleRehearsal.corpus(spark, 200).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b, "generator must be deterministic")
    assert(a.size == 200)
    // copies: ids 1, 51, 101, 151 replay their predecessor's stream
    // plus a distinct tail — near-dups, never exact dups
    for (c <- Seq(1L, 51L, 101L, 151L)) {
      assert(a(c).startsWith(a(c - 1)), s"doc $c must extend doc ${c - 1}")
      assert(a(c).contains("neardup tail marker"), a(c).takeRight(40))
      assert(a(c) != a(c - 1))
    }
    // non-copy docs: 50-149 tokens from the wNNN vocabulary
    val toks = a(0L).split("\\s+")
    assert(toks.length >= 50 && toks.length <= 149, toks.length)
    assert(toks.forall(_.matches("w\\d+")), toks.take(5).mkString(","))
  }

  test("vectors: 32 dims in [-1, 1), deterministic") {
    val v = ScaleRehearsal.vectors(spark, 50).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(v.size == 50)
    assert(v.values.forall(_.length == 32))
    assert(v.values.flatten.forall(x => x >= -1.0 && x < 1.0))
    val v2 = ScaleRehearsal.vectors(spark, 50).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(v == v2)
  }

  test("wideEvents: 12-month 2024 window, full index cardinality, " +
    "deterministic") {
    val e = ScaleRehearsal.wideEvents(spark, 50, 3000).collect()
    assert(e.length == 3000)
    val lo = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    e.foreach { r =>
      val ts = r.getTimestamp(1)
      assert(!ts.before(lo) && ts.before(hi), ts)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) < 100.0)
    }
    // every index value appears — the dir fan-out the stress family
    // advertises is real, not an upper bound
    assert(e.map(_.getString(2)).toSet.size == 50)
    val again = ScaleRehearsal.wideEvents(spark, 50, 3000).collect()
      .map(_.toString).toSeq
    assert(again == e.map(_.toString).toSeq)
  }

  test("events: 30-day window, 5 types, non-negative values") {
    val e = ScaleRehearsal.events(spark, 500).collect()
    assert(e.length == 500)
    val lo = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-31 00:00:00")
    val types = e.map(_.getString(3)).toSet
    assert(types.subsetOf(
      Set("click", "view", "purchase", "signup", "error")))
    assert(types.size == 5, s"all five types should appear in 500 rows")
    e.foreach { r =>
      val ts = r.getTimestamp(1)
      assert(!ts.before(lo) && ts.before(hi), ts)
      assert(r.getDouble(4) >= 0.0)
    }
  }

  test("stream inbox: per-type row counts, and a reader of typed rows") {
    val n = 2000L
    val root = java.nio.file.Files.createTempDirectory("stream-inbox").toFile
    try {
      val inbox = s"$root/inbox"
      ScaleRehearsal.streamInbox(spark, inbox, n, slices = 4)
      val ev = ScaleRehearsal.events(spark, n)
      def typed(t: String) = ev.where(col("event_type") === t).count()
      val purchases = spark.read.json(s"$inbox/purchases").count()
      assert(purchases > 0 && purchases == typed("purchase"))
      assert(spark.read.json(s"$inbox/errors").count() == typed("error"))
      assert(spark.read.json(s"$inbox/all").count() == n)
      // one file per slice and side, so the file source replays the
      // slices as separate micro-batches
      assert(new java.io.File(s"$inbox/purchases").listFiles()
        .count(_.getName.endsWith(".json")) == 4)

      val stream = ScaleRehearsal.inboxStream(spark, s"$inbox/purchases",
        "p_id", "p_ts", "p_user", mfpt = 1)
      assert(stream.schema.map(f => f.name -> f.dataType) == Seq(
        "p_id" -> LongType, "p_ts" -> TimestampType, "p_user" -> LongType))
      val q = stream.writeStream.format("memory").queryName("inbox_spec")
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      val drained = spark.table("inbox_spec")
      assert(drained.count() == purchases)
      assert(drained.where(col("p_ts").isNull).count() == 0)
    } finally FileUtils.deleteDirectory(root)
  }
}

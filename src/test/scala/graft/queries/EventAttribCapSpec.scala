package graft.queries

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkTestBase

/** q_events_attrib's bot guard: views per (user, 2 h cell) are capped
  * at 1000, keeping the latest, and under Verify's failOnCapExceeded
  * flag an engaged cap fails loudly instead of truncating. */
class EventAttribCapSpec extends SparkTestBase {
  import spark.implicits._

  test("q_events_attrib caps a hot cell at 1000 views, dropping the " +
      "earliest, and fails naming the cap under failOnCapExceeded") {
    // 1,001 views by one user at seconds 0..1000 of one 2 h cell, then
    // one purchase at second 3600 of the same cell
    val cell = 236112L * 7200L
    def at(sec: Long) = new Timestamp((cell + sec) * 1000L)
    val views = (0L to 1000L).map(i => (i + 1, at(i), 7L, "view", 0.0, "{}"))
    val purchase = (5000L, at(3600L), 7L, "purchase", 9.5, "{}")
    val dir = Files.createTempDirectory("attrib_cap").toString
    (views :+ purchase)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")

    val got = EventQueries.queries("q_events_attrib")(spark, dir)
      .select($"purchase_id", $"view_id").as[(Long, Option[Long])]
      .collect()
    assert(got.length === 1000 && got.forall(_._1 == 5000L))
    assert(got.flatMap(_._2).sorted.toSeq === (2L to 1001L),
      "the cap must keep exactly the latest 1000 views")

    spark.conf.set("spark.graft.dedup.failOnCapExceeded", "true")
    try {
      val e = intercept[Exception] {
        EventQueries.queries("q_events_attrib")(spark, dir).collect()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else String.valueOf(t.getMessage) +: messages(t.getCause)
      assert(messages(e).exists(_.contains("MaxViewsPerCell=1000")),
        s"unexpected error chain: ${messages(e).mkString(" | ")}")
    } finally spark.conf.unset("spark.graft.dedup.failOnCapExceeded")
  }
}

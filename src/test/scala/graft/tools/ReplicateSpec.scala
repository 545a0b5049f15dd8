package graft.tools

import java.nio.file.Files

import graft.{SparkTestBase, Tables}

/** The scaling corpus: K replicas of every fact table with per-replica
  * key offsets, dimension tables unreplicated, texts verbatim. */
class ReplicateSpec extends SparkTestBase {
  import spark.implicits._

  test("K=2 doubles the fact tables, keeps the dimensions, keeps keys " +
      "distinct across replicas and copies document texts verbatim") {
    val out = Files.createTempDirectory("replicate").resolve("f2").toString
    Replicate.run(spark, sf0001, 2, out)

    Replicate.keyCols.foreach { case (t, cols) =>
      val src = Tables.table(spark, sf0001, t)
      val rep = Tables.table(spark, out, t)
      val factor = if (cols.isEmpty) 1L else 2L
      assert(rep.count() === factor * src.count(), s"$t row count")
      cols.foreach { c =>
        assert(rep.select(c).distinct().count()
          === factor * src.select(c).distinct().count(),
          s"$t.$c keys collide across replicas")
      }
    }
    val texts = Tables.table(spark, sf0001, "documents")
      .select($"text").as[Option[String]].collect().groupBy(identity)
      .map { case (t, xs) => t -> xs.length * 2 }
    val repTexts = Tables.table(spark, out, "documents")
      .select($"text").as[Option[String]].collect().groupBy(identity)
      .map { case (t, xs) => t -> xs.length }
    assert(repTexts === texts)
  }
}

package graftbench

import java.nio.file.Paths

import scala.io.Source

/** Golden checksums of the analytics corpus: `util.Consume` checksums of
  * each mix query over the corpus generated from [[CorpusSeed]] at
  * `Sizes.analyticsSf`. They live in `golden.tsv` beside the harness
  * sources and are regenerated only when the corpus definition changes:
  * `python3 perfbench/run.py --print-golden`.
  */
object Golden {
  val CorpusSeed = 20240101L

  lazy val checksums: Map[String, Long] = {
    val src = Source.fromInputStream(getClass.getResourceAsStream("/golden.tsv"), "UTF-8")
    try src.getLines().filter(_.contains("\t")).map { l =>
      val Array(q, c) = l.split("\t"); q -> c.trim.toLong
    }.toMap
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val root = Paths.get(args(0))
    val spark = Main.session(Main.cores(), root)
    val dir = root.resolve("corpus").toString
    Gen.writeTables(spark, dir, CorpusSeed, Sizes.analyticsSf, Gen.AllTables)
    Layers.Queries.foreach { q =>
      val r = graft.util.Consume.frame(graft.SparkEntry.queries(q)(spark, dir)).collect().head
      println(s"$q\t${if (r.isNullAt(0)) 0L else r.getLong(0)}")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}

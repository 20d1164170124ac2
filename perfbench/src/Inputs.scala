package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs of the same size as the source tables: each table's rows
  * are permuted by a seeded hash and written back as one parquet file, and
  * documents get the rotate-by-r letter cipher of `graft.tools.ScaleData`
  * (which preserves lengths, token boundaries and the word-frequency shape).
  *
  * The cipher goes on a seeded half of the documents only, with
  * r = 1 + seed mod 25: ciphering every document would remove every English
  * stop word, so the Gopher stop-word rule would drop the whole corpus and
  * the curation workload would lose its filter. The program under test sees
  * only the generated files. */
object Inputs {

  private def cipher(c: Column, r: Int): Column = {
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    val to = lower.drop(r) + lower.take(r) + upper.drop(r) + upper.take(r)
    translate(c, lower + upper, to)
  }

  def generate(
      spark: SparkSession, srcDir: String, dstDir: String, seed: Long,
      tables: Seq[String]): Unit =
    tables.foreach { t =>
      val src = spark.read.parquet(s"$srcDir/$t.parquet")
      val keyed = src.withColumn("__perm", xxhash64(lit(seed) +: src.columns.map(col).toSeq: _*))
      val body =
        if (t != "documents") keyed
        else {
          val r = 1 + Math.floorMod(seed, 25L).toInt
          keyed.withColumn("text",
            when(xxhash64(lit(seed + 1), col("doc_id")) % 2 === 0, cipher(col("text"), r))
              .otherwise(col("text")))
        }
      body.coalesce(1).sortWithinPartitions("__perm").drop("__perm")
        .write.mode("overwrite").parquet(s"$dstDir/$t.parquet")
    }
}

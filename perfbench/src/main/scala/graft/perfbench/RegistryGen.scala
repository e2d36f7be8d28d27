package graft.perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded tables for the registry slice, in the layout the registry
  * queries read (`<dir>/<table>.parquet`, TPC-H-style column names). The
  * sizes follow the sf0.01 test drop: 60k lineitem, 15k orders, 1.5k
  * customers, 100 suppliers, 25 nations, 500 64-dim unit embeddings in
  * 10 clusters and 500 short documents with planted near-copies. Only
  * the tables and columns the slice reads are written. */
object RegistryGen {
  private val Vocab = Vector("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "hash", "slow", "group", "agg",
    "filter", "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "a", "the", "vector", "join", "customer")
  private val Langs = Vector("en", "en", "en", "fr", "es", "zh", "de")

  def write(spark: SparkSession, dir: String, seed: Long): Unit = {
    // integer uniform in [0, n) from a seeded hash of the row id: the same
    // seed gives the same tables at any partitioning
    def uniform(salt: String, n: Long) = pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(n))
    def save(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save(spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), "nation")
    // nations are drawn with a skew (min of two uniforms) so the trade
    // graph has heavy and light routes for the graph operators to rank
    def skewedNation(salt: String) =
      least(uniform(salt + "a", 25), uniform(salt + "b", 25)).cast("int")
    save(spark.range(100).select(col("id").as("s_suppkey"),
      concat(lit("Supplier#"), col("id")).as("s_name"),
      skewedNation("s").as("s_nationkey")), "supplier")
    save(spark.range(1500).select(col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      (lit(24) - skewedNation("c")).as("c_nationkey")), "customer")
    save(spark.range(15000).select(col("id").as("o_orderkey"),
      uniform("o", 1500).as("o_custkey")), "orders")
    save(spark.range(60000).select(uniform("lo", 15000).as("l_orderkey"),
      uniform("ls", 100).as("l_suppkey"),
      (uniform("ln", 7) + 1).cast("int").as("l_linenumber")), "lineitem")

    val rng = new SplittableRandom(seed)
    val centers = Array.fill(10)(unit(Array.fill(64)(rng.nextDouble() * 2 - 1)))
    val vecs = (0 until 500).map { i =>
      val label = rng.nextInt(10)
      val v = unit(centers(label).map(c => c + (rng.nextDouble() * 2 - 1) * 0.35))
      Row(i.toLong, v.map(_.toFloat).toSeq, label)
    }
    save(spark.createDataFrame(spark.sparkContext.parallelize(vecs, 1), StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))), "embeddings")

    val texts = new Array[String](500)
    for (i <- texts.indices) {
      texts(i) =
        if (i > 0 && rng.nextDouble() < 0.1) { // near-copy of an earlier document
          val words = texts(rng.nextInt(i)).split(' ')
          words(rng.nextInt(words.length)) = Vocab(rng.nextInt(Vocab.size))
          words.mkString(" ")
        } else Vector.fill(8 + rng.nextInt(70))(Vocab(rng.nextInt(Vocab.size))).mkString(" ")
    }
    val docs = texts.indices.map(i => Row(i.toLong, texts(i), Langs(rng.nextInt(Langs.size)),
      s"src${rng.nextInt(20)}", texts(i).length.toLong))
    save(spark.createDataFrame(spark.sparkContext.parallelize(docs, 1), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))), "documents")
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }
}

package graft

import org.apache.spark.sql.functions._

/** Capacity-sizing probe for the sign-LSH bucket knob:
  * `runMain graft.BucketProbe <sfDir> <bits> [k]` builds the kNN graph at
  * the given bucket width and prints bucket-population stats, pair volume,
  * and wall-clock — the measurement a deployment runs to pick
  * `signBucketOf(bits)` for its corpus size (target: bucket population
  * roughly constant as the corpus grows). */
object BucketProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val bits = args(1).toInt
    val k = if (args.length > 2) args(2).toInt else 5
    val spark = Sessions.local(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.expressions.Window
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"),
        ext.SimilarityOps.signBucketOf(bits).as("bucket"))
    val pop = e.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("buckets"), max(col("n")).as("max_pop"),
        avg(col("n")).as("avg_pop"),
        sum(col("n") * col("n")).as("pair_volume"))
      .head()
    println(s"PROBE bits=$bits buckets=${pop.getLong(0)} " +
      s"max_pop=${pop.getLong(1)} avg_pop=${pop.getDouble(2)} " +
      s"pair_volume=${pop.getLong(3)}")
    val a = e.select(col("bucket"), col("vec_id").as("a"),
      col("embedding").as("ea"))
    val b = e.select(col("bucket"), col("vec_id").as("b"),
      col("embedding").as("eb"))
    val cos = aggregate(zip_with(col("ea"), col("eb"),
      (x, y) => x.cast("double") * y), lit(0.0), _ + _) /
      (sqrt(aggregate(transform(col("ea"), x => x.cast("double") * x),
        lit(0.0), _ + _)) *
        sqrt(aggregate(transform(col("eb"), x => x.cast("double") * x),
          lit(0.0), _ + _)))
    val w = Window.partitionBy(col("a"))
      .orderBy(col("cos_r").desc, col("b"))
    val t0 = System.nanoTime()
    val rows = a.join(b, Seq("bucket"))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b"), round(cos, 4).as("cos_r"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .count()
    println(f"PROBE knn rows=$rows secs=${(System.nanoTime() - t0) / 1e9}%.2f")
    spark.stop()
  }
}

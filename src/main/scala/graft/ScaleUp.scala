package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator for the sf1 SCALE GATE: derives a
  * 10× corpus from the driver-shipped sf0.1 parquet so the heavy-tier
  * queries can be MEASURED one decade up (no sf1 directory ships with
  * the environment). `java graft.ScaleUp [src] [dst] [copies]`.
  *
  * Derivation (copy k of K, all transforms pure functions of (row, k)
  * — two runs produce byte-identical relations):
  *  - dims (region/nation/customer/supplier/part): copied as-is — like
  *    a fixed dimension catalog under growing facts, so per-key join
  *    fan-out grows with SF (the skew-hardening direction);
  *  - lineitem/orders: keys shift by k·(max+1), the SAME stride for
  *    `l_orderkey`/`o_orderkey` so the join graph stays consistent;
  *  - events: `event_id` strides; `ts` shifts k days so the time
  *    domain grows with the data (resampling/windowing see 10× range,
  *    not 10× density — how real feeds grow);
  *  - documents: `doc_id` strides; each copy's text is ROTATED by 7k
  *    words — shingle sets diverge, so the near-dup/dedup workload
  *    keeps its duplicate-fraction shape instead of degenerating into
  *    an everything-matches-everything stress test;
  *  - embeddings: `vec_id` strides; each dimension is deterministically
  *    jittered ±3% by a hash of (vec_id, dim, k), so ANN partitioning
  *    sees 10× distinct points, not 10 exact replicas of each.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Session.local("32")

    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      Tables.load(spark, src, t).write.mode("overwrite")
        .parquet(s"$dst/$t.parquet")
    }

    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).collect()(0).getLong(0) + 1L

    def scaled(name: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = Tables.load(spark, src, name)
      (0 until copies).map(k => f(base, k)).reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"scaled $name x$copies")
    }

    val li = Tables.load(spark, src, "lineitem")
    val okStride = stride(li, "l_orderkey")
    scaled("lineitem") { (df, k) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(k * okStride))
    }
    scaled("orders") { (df, k) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(k * okStride))
    }
    val evBase = Tables.load(spark, src, "events")
    val evStride = stride(evBase, "event_id")
    // shift each copy by the WHOLE corpus span (+1 day), so the time
    // domain genuinely grows ~10x — a k-days shift over a month-long
    // corpus would overlap copies almost entirely and measure a density
    // blow-up instead of the stated 10x-range growth
    val spanDays = evBase
      .agg((datediff(max(col("ts")), min(col("ts"))) + 1).as("d"))
      .collect()(0).getInt(0)
    scaled("events") { (df, k) =>
      df.withColumn("event_id", col("event_id") + lit(k * evStride))
        .withColumn("ts", col("ts") + expr(s"INTERVAL ${k * spanDays} DAYS"))
    }
    val docStride = stride(Tables.load(spark, src, "documents"), "doc_id")
    scaled("documents") { (df, k) =>
      val rot = 7 * k
      val rotated =
        if (k == 0) df
        else df.withColumn("__w", split(col("text"), " "))
          .withColumn("text", when(size(col("__w")) <= rot, col("text"))
            .otherwise(concat_ws(" ",
              concat(expr(s"slice(__w, ${rot + 1}, size(__w))"),
                expr(s"slice(__w, 1, $rot)")))))
          .drop("__w")
      rotated.withColumn("doc_id", col("doc_id") + lit(k * docStride))
    }
    val vecStride = stride(Tables.load(spark, src, "embeddings"), "vec_id")
    scaled("embeddings") { (df, k) =>
      val jittered =
        if (k == 0) df
        else df.withColumn("embedding", expr(
          s"""transform(embedding, (x, i) ->
             |  CAST(x * (1.0 + 0.01 * (pmod(vec_id * 31 + i * 7 + $k, 7) - 3))
             |       AS FLOAT))""".stripMargin))
      jittered.withColumn("vec_id", col("vec_id") + lit(k * vecStride))
    }
    println(s"sf${copies}x of $src written to $dst")
    spark.stop()
  }
}

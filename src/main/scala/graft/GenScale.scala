package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-factor amplifier for the benchmark corpus (dev tooling, not
  * part of the library): replicate every table of an existing sf dir
  * k times with key remapping, writing a k×-larger dataset with the
  * SAME schema and the same per-copy statistical structure.
  *
  * The point is the round's scale-validation sweep: the at-scale
  * claims ("floors amortize", "candidate generation is linear in
  * docs") need a ≥sf1 measurement, and the driver-generated testdata
  * stops at sf0.1. Replication rules keep the workload HONEST at k×:
  *
  *  - documents: ids offset per copy; copy c>0 suffixes every token
  *    with the copy tag, so cross-copy docs share NO shingles/vocab —
  *    near-dup candidate structure (and the planted exact-dup groups)
  *    scales linearly in docs, exactly the regime the linear-shape
  *    claims are about. n_chars is recomputed from the rewritten
  *    text. A naive replicate-verbatim would instead make every doc
  *    a k-way exact dup — a different (quadratic-in-k) workload.
  *  - embeddings: ids offset; copy c rotates the dimension order by
  *    7c (mod d) — norms and intra-copy geometry are EXACT, while
  *    cross-copy cosine decorrelates, so ANN/near-dup pair structure
  *    also scales linearly.
  *  - facts (orders/lineitem/events): every key domain offsets by
  *    copy × (max_key + 1), so per-copy FK relationships hold and
  *    join fan-outs replicate instead of multiplying.
  *  - scaling dims (customer/supplier/part): same key offsets.
  *  - fixed dims (region/nation): copied once, unchanged (TPC-H's own
  *    rule — their keys are referenced by every copy).
  *
  * usage: graft.GenScale <srcSfDir> <outDir> <k>
  */
object GenScale {

  private def maxOf(df: DataFrame, c: String): Long =
    df.agg(max(col(c))).head().getLong(0)

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: graft.GenScale <srcSfDir> <outDir> <k>")
    val Array(src, out, kStr) = args
    val k = kStr.toInt
    require(k >= 1, "k must be >= 1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt, cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$out/$t.parquet")

    // fixed dims: verbatim single copy
    Seq("region", "nation").foreach(t => wr(rd(t), t, 1))

    // documents: id offset + per-copy token-suffix rewrite
    locally {
      val d = rd("documents")
      val n = maxOf(d, "doc_id") + 1
      val copies = (0 until k).map { c =>
        val base = d.withColumn("doc_id", col("doc_id") + lit(c * n))
        if (c == 0) base
        else {
          val tagged = array_join(
            transform(split(col("text"), " "), w => concat(w, lit(s"c$c"))),
            " "
          )
          base
            .withColumn("text", tagged)
            .withColumn("n_chars", length(col("text")).cast("long"))
        }
      }
      wr(copies.reduce(_ unionAll _), "documents", 4 * k)
    }

    // embeddings: id offset + per-copy dimension rotation
    locally {
      val e = rd("embeddings")
      val n = maxOf(e, "vec_id") + 1
      val d = e.select(size(col("embedding"))).head().getInt(0)
      val copies = (0 until k).map { c =>
        val base = e.withColumn("vec_id", col("vec_id") + lit(c * n))
        if (c == 0) base
        else {
          val rot = transform(
            sequence(lit(0), lit(d - 1)),
            i => element_at(col("embedding"), ((i + lit(7 * c)) % d) + 1)
          )
          base.withColumn("embedding", rot)
        }
      }
      wr(copies.reduce(_ unionAll _), "embeddings", 2 * k)
    }

    // events: event/user key offsets, timeline unchanged (k× density)
    locally {
      val ev = rd("events")
      val nE = maxOf(ev, "event_id") + 1
      val nU = maxOf(ev, "user_id") + 1
      val copies = (0 until k).map { c =>
        ev.withColumn("event_id", col("event_id") + lit(c * nE))
          .withColumn("user_id", col("user_id") + lit(c * nU))
      }
      wr(copies.reduce(_ unionAll _), "events", 4 * k)
    }

    // star schema: offset every key domain consistently across tables
    locally {
      val cust = rd("customer"); val supp = rd("supplier"); val part = rd("part")
      val ord = rd("orders"); val li = rd("lineitem")
      val nC = maxOf(cust, "c_custkey") + 1
      val nS = maxOf(supp, "s_suppkey") + 1
      val nP = maxOf(part, "p_partkey") + 1
      val nO = maxOf(ord, "o_orderkey") + 1
      def rep(df: DataFrame, offsets: Map[String, Long]): DataFrame =
        (0 until k)
          .map { c =>
            offsets.foldLeft(df) { case (acc, (colName, dom)) =>
              acc.withColumn(colName, col(colName) + lit(c * dom))
            }
          }
          .reduce(_ unionAll _)
      wr(rep(cust, Map("c_custkey" -> nC)), "customer", k)
      wr(rep(supp, Map("s_suppkey" -> nS)), "supplier", k)
      wr(rep(part, Map("p_partkey" -> nP)), "part", k)
      wr(
        rep(ord, Map("o_orderkey" -> nO, "o_custkey" -> nC)),
        "orders",
        2 * k
      )
      wr(
        rep(
          li,
          Map("l_orderkey" -> nO, "l_partkey" -> nP, "l_suppkey" -> nS)
        ),
        "lineitem",
        4 * k
      )
    }

    val counts = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
      .map(t => s"$t=${spark.read.parquet(s"$out/$t.parquet").count()}")
    println(s"[genscale] k=$k -> $out: ${counts.mkString(", ")}")
    spark.stop()
  }
}

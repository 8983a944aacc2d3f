package graft

import graft.catalog.Lake
import graft.operators.{Dedup, Evaluation, Similarity}
import org.scalatest.funsuite.AnyFunSuite

class DedupSimilaritySpec extends AnyFunSuite {
  import TestSpark._
  private lazy val lake = Lake(spark, sfDir)

  test("leakage-safe split: clusters never span splits, pairs co-split, all docs covered") {
    val out = Dedup.samp05LeakageSafeSplit(lake).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length == lake.documents.count())
    // a cluster maps to exactly one split
    out.groupBy(_._2).foreach { case (c, rows) =>
      assert(rows.map(_._3).distinct.length == 1, s"cluster $c spans splits")
    }
    // THE leakage property: every near-dup pair lands in one split
    val split = out.map(r => r._1 -> r._3).toMap
    Dedup.dedup04MinhashLsh(lake).select("doc_a", "doc_b").collect().foreach { r =>
      assert(split(r.getLong(0)) == split(r.getLong(1)),
        s"pair ${r.getLong(0)}/${r.getLong(1)} split apart")
    }
    // all three splits materialize and train dominates (8/1/1 rule)
    val byCut = out.groupBy(_._3).view.mapValues(_.length).toMap
    assert(byCut.keySet == Set("train", "val", "test"), byCut)
    assert(byCut("train") > byCut("val") && byCut("train") > byCut("test"), byCut)
  }

  test("soft dedup: unit mass per cluster, full coverage, consistent with the hard-dedup clusters") {
    val rows = Dedup.samp07SoftDedup(lake).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == lake.documents.count(), "not every doc weighted")
    assert(rows.map(_._1).distinct.length == rows.length, "doc repeated")
    rows.foreach { case (_, _, n, w) =>
      assert(w > 0.0 && w <= 1.0)
      assert(math.abs(w - math.rint(10000.0 / n) / 10000) < 1e-12, s"weight != round(1/$n)")
    }
    // each cluster contributes unit mass (up to the 4-decimal rounding)
    rows.groupBy(_._2).foreach { case (c, members) =>
      assert(math.abs(members.map(_._4).sum - 1.0) < 1e-3, s"cluster $c mass off")
      assert(members.forall(_._3 == members.length), s"cluster $c size column wrong")
    }
    // singletons keep themselves at weight 1; clusters match samp05's
    val splits = Dedup.samp05LeakageSafeSplit(lake).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (d, c, n, w) =>
      assert(splits(d) == c, s"doc $d cluster differs from samp05")
      if (n == 1) assert(c == d && w == 1.0)
    }
  }

  test("incremental dedup agrees with the global pair set restricted to the delta") {
    val out = Dedup.dedup12Incremental(lake).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1), r.getString(2)))
    val maxId = lake.documents.agg(org.apache.spark.sql.functions.max("doc_id"))
      .head().getLong(0)
    val cut = (0.8 * (maxId + 1)).toLong
    assert(out.nonEmpty && out.forall(_._1 >= cut), "output is exactly the delta")
    assert(out.length == lake.documents.filter(s"doc_id >= $cut").count())
    // global pairs (a < b) restricted to b in the delta give the expected verdicts
    val expected = Dedup.dedup04MinhashLsh(lake).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(_._2 >= cut)
      .groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    out.foreach { case (id, dupOf, verdict) =>
      expected.get(id) match {
        case Some(minA) =>
          assert(verdict == "drop" && dupOf == minA, s"doc $id: expected drop/dup_of=$minA, got $verdict/$dupOf")
        case None =>
          assert(verdict == "keep" && dupOf == -1L, s"doc $id: expected keep, got $verdict/$dupOf")
      }
    }
  }

  test("minhash LSH finds exactly the exhaustive-Jaccard pairs") {
    val lsh = Dedup
      .dedup04MinhashLsh(lake)
      .select("doc_a", "doc_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val exact = Dedup
      .dedup03NgramJaccard(lake, lenWindow = 1000000)
      .select("doc_a", "doc_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(lsh == exact, s"LSH missed ${exact -- lsh}, extra ${lsh -- exact}")
  }

  test("connected components resolve planted chains, triangles and singles") {
    import spark.implicits._
    // Components: a 5-node chain 10-11-12-13-14 (diameter 4 — forces
    // several propagation hops), a triangle {20,21,22}, an isolated
    // pair {30,31}.
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
      (20L, 21L), (21L, 22L), (20L, 22L),
      (30L, 31L)
    ).toDF("doc_a", "doc_b")
    val labels = DedupSimilaritySpec
      .propagateLabels(pairs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    assert(Seq(10L, 11L, 12L, 13L, 14L).forall(labels(_) == 10L))
    assert(Seq(20L, 21L, 22L).forall(labels(_) == 20L))
    assert(Seq(30L, 31L).forall(labels(_) == 30L))
    assert(labels.size == 10)
  }

  test("star CC labels equal min-label propagation on chains, triangles, and real pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, greatest, least}
    val planted = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
      (20L, 21L), (21L, 22L), (20L, 22L),
      (30L, 31L), (30L, 30L),
      // a star already rooted high: exercises the re-rooting path
      (50L, 41L), (50L, 42L), (50L, 43L), (43L, 41L)
    ).toDF("doc_a", "doc_b")
    val real = Dedup
      .dedup04MinhashLsh(lake)
      .select("doc_a", "doc_b")
      .localCheckpoint()
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    for ((name, pairs) <- Seq("planted" -> planted, "minhash" -> real)) {
      val expected = asMap(DedupSimilaritySpec.propagateLabels(pairs))
      // The union-find cutover at 0 (star rounds only), mid-loop and
      // unbounded. Live edges start at E0 and never drop below the
      // spanning-forest size F (rounds preserve components), so a
      // cutover at F runs at least one star round when E0 > F, then
      // finishes in the union-find.
      val e0 = pairs
        .select(greatest(col("doc_a"), col("doc_b")).as("u"),
          least(col("doc_a"), col("doc_b")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .count()
      val f = expected.count { case (u, l) => u != l }.toLong
      assert(e0 > f, s"$name: the graph needs a cycle for a mid-loop cutover")
      for (cut <- Seq(0L, f, Long.MaxValue)) {
        assert(
          asMap(Dedup.connectedComponentsStar(pairs, localEdges = cut)) == expected,
          s"$name: cutover at $cut disagrees with plain propagation")
      }
    }
  }

  test("dedup08 clusters cover exactly the minhash pair nodes, one survivor each") {
    val pairs = Dedup
      .dedup04MinhashLsh(lake)
      .collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1)))
      .toSet
    val clusters = Dedup.dedup08ClusterResolve(lake).collect()
    val nMembers = clusters.map(_.getAs[Long]("n_members")).sum
    assert(nMembers == pairs.size, "every paired doc is in exactly one cluster")
    assert(clusters.forall(_.getAs[Long]("n_members") >= 2))
    val survivors = clusters.map(_.getAs[Long]("survivor_id"))
    assert(survivors.distinct.length == survivors.length)
    assert(survivors.forall(pairs.contains))
  }

  test("cross-source overlap pair counts sum to C(n,2) over dup groups") {
    val matrixTotal = Dedup
      .dedup09CrossSourceOverlap(lake)
      .collect()
      .map(_.getAs[Long]("n_dup_pairs"))
      .sum
    val groupTotal = Dedup
      .dedup01Exact(lake)
      .collect()
      .map(r => { val n = r.getAs[Long]("n_dups"); n * (n - 1) / 2 })
      .sum
    assert(matrixTotal == groupTotal, s"$matrixTotal != $groupTotal")
  }

  test("containment catches a planted subset-dup that symmetric Jaccard misses") {
    import spark.implicits._
    // doc 2 = doc 1 verbatim, wrapped in boilerplate ~3x its length:
    // C(1,2) = 1.0 but J(1,2) ~ 0.33. Docs 3/4 unrelated.
    val core = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val wrap = (1 to 60).map(i => s"boiler$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("graft_cont").toString
    Seq(
      (1L, core),
      (2L, s"$wrap $core $wrap"),
      (3L, (1 to 50).map(i => s"gamma$i").mkString(" ")),
      (4L, (1 to 50).map(i => s"delta$i").mkString(" "))
    ).toDF("doc_id", "text")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val planted = Lake(spark, tmp)
    val cont = Dedup
      .dedup10Containment(planted)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(cont.keySet == Set((1L, 2L)), s"got ${cont.keySet}")
    assert(cont((1L, 2L)) == 1.0)
    val jac = Dedup
      .dedup03NgramJaccard(planted, lenWindow = 1000000)
      .select("doc_a", "doc_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(!jac.contains((1L, 2L)), "J>=0.5 should miss the subset dup")
  }

  test("dedup03: the capped branch equals uncapped when pairs share rare shingles") {
    import spark.implicits._
    import org.apache.spark.sql.functions.length
    // Every doc carries the SAME boilerplate tail (df = 4 > maxDf = 3,
    // forcing the capped + exact-verify branch); docs 1/2 are near-dups
    // through their rare body shingles; 3/4 share only the tail.
    val tail = (1 to 15).map(i => s"footer$i").mkString(" ")
    val body = (1 to 40).map(i => s"body$i").mkString(" ")
    val dir = "target/tmp/dedup03-cap"
    Seq(
      (1L, s"$body $tail"),
      (2L, s"$body extra $tail"),
      (3L, ((1 to 40).map(i => s"three$i").mkString(" ")) + " " + tail),
      (4L, ((1 to 40).map(i => s"four$i").mkString(" ")) + " " + tail)
    ).toDF("doc_id", "text")
      .withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = Lake(spark, dir)
    def pairs(cap: Int) = Dedup
      .dedup03NgramJaccard(planted, lenWindow = 1000000, maxDf = cap)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    val capped = pairs(3) // boilerplate dropped from candidate generation
    val uncapped = pairs(Int.MaxValue) // direct-count branch
    assert(capped == uncapped,
      s"capped $capped vs uncapped $uncapped")
    assert(capped.contains((1L, 2L)), "the rare-shingle near-dup pair must survive the cap")
    // dedup10 runs the same size-adaptive core with the containment
    // score: 1 ⊂ 2 up to the boundary trigrams (C = 51/53 >= 0.9)
    def contained(cap: Int) = Dedup
      .dedup10Containment(planted, maxDf = cap)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    val cappedC = contained(3)
    val uncappedC = contained(Int.MaxValue)
    assert(cappedC == uncappedC, s"dedup10 capped $cappedC vs uncapped $uncappedC")
    assert(cappedC.contains((1L, 2L)), "dedup10's contained pair must survive the cap")
  }

  test("dedup04: band-bucket cap keeps components connected on a mass-duplicate corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions.length
    // 25 verbatim copies of one page (every band bucket of the group
    // has size 25 — the degenerate boilerplate-flood shape), one
    // genuine near-dup pair (100/101), two unrelated docs. With
    // maxBucket = 10 the oversized buckets must emit STAR candidates
    // (member vs bucket-min) instead of all 300 pairs, while the
    // small-bucket pair path stays bit-identical to the uncapped run.
    val page = (1 to 60).map(i => s"mass$i").mkString(" ")
    val body = (1 to 50).map(i => s"near$i").mkString(" ")
    val dir = "target/tmp/dedup04-cap"
    val massDocs = (1L to 25L).map(i => (i, page))
    (massDocs ++ Seq(
      (100L, body),
      (101L, s"$body tweak"),
      (200L, (1 to 50).map(i => s"solo$i").mkString(" ")),
      (201L, (1 to 50).map(i => s"other$i").mkString(" "))
    )).toDF("doc_id", "text")
      .withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = Lake(spark, dir)
    def run(cap: Int) = Dedup
      .minhashPairs(Dedup.shingleCorpus(planted.documents).cache(), maxBucket = cap)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    val capped = run(10)
    val uncapped = run(Int.MaxValue)
    // the mass group collapses to 24 star pairs, each an exact dup
    val starKeys = (2L to 25L).map(x => (1L, x)).toSet
    assert(capped.keySet.filter(_._1 <= 25L) == starKeys,
      s"expected star pairs only, got ${capped.keySet.filter(_._1 <= 25L)}")
    starKeys.foreach(k => assert(capped(k) == 1.0))
    assert(uncapped.keySet.count(k => k._1 <= 25L && k._2 <= 25L) == 300)
    // outside the degenerate group the capped run is bit-identical
    assert(capped.view.filterKeys(_._1 > 25L).toMap ==
      uncapped.view.filterKeys(_._1 > 25L).toMap)
    assert(capped.contains((100L, 101L)), "the real near-dup pair must survive the cap")
    // connectivity (what the CC consumers — dedup08, samp05, pipe02/03
    // — actually depend on) is preserved: same components either way
    def components(pairs: Set[(Long, Long)]): Set[Set[Long]] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
      parent.keys.groupBy(find).values.map(_.toSet).toSet
    }
    assert(components(capped.keySet) == components(uncapped.keySet))
  }

  test("dedup04: heterogeneous oversized bucket — components preserved per group, cross-group pairs correctly absent, star recall loss pinned") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, sum, when}
    // The adversarial shape the homogeneous mass-duplicate spec above
    // does NOT cover (advisor round-10): TWO distinct dup-groups whose
    // texts are similar enough to band-collide (J ≈ 0.46 → a 2-row
    // band agrees with prob J² ≈ 0.21, so ≥1 of 64 bands mixes them
    // with prob ~1-2e-7) but BELOW the 0.5 verify threshold. In the
    // mixed oversized bucket the star representative is group X's min
    // doc_id, so every Y member's only candidate there fails the exact
    // verify. Pinned behavior: (a) each group still resolves to ONE
    // connected component — Y's members reconnect through pure-Y
    // oversized buckets in the bands where the groups do NOT collide;
    // (b) no cross-group pair is emitted (correct: J < threshold, and
    // exact verify holds regardless of candidate shape); (c) the
    // documented PAIR-level recall loss: true within-group pairs
    // between two non-representative members (e.g. (2,3), J = 1.0)
    // are absent — they only ever co-occur in oversized buckets, so
    // the star never proposes them. CC consumers (dedup08, samp05,
    // pipe02/03) are unaffected by (c); pair-list consumers above the
    // cap see the star subset.
    val shared = (1 to 26).map(i => s"core$i").mkString(" ")
    val tx = shared + " " + (1 to 14).map(i => s"xx$i").mkString(" ")
    val ty = shared + " " + (1 to 14).map(i => s"yy$i").mkString(" ")
    val docs = ((1L to 8L).map(i => (i, tx)) ++ (101L to 108L).map(i => (i, ty)))
      .toDF("doc_id", "text")
    // the premise must actually hold on today's hashing: some band
    // bucket is oversized AND contains members of both groups
    val shingled = Dedup.shingleCorpus(docs).cache()
    val buckets = Dedup.bandIndexOf(shingled)
      .groupBy("band", "bucket")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("doc_id") <= 8L, 1).otherwise(0)).as("nx"),
        sum(when(col("doc_id") >= 101L, 1).otherwise(0)).as("ny"))
      .collect().map(r => (r.getLong(3), r.getLong(4)))
    assert(buckets.exists { case (nx, ny) => nx > 0 && ny > 0 && nx + ny > 4 },
      "no heterogeneous oversized bucket formed — the spec premise broke")
    assert(buckets.exists { case (nx, ny) => ny > 0 && nx == 0 },
      "no pure-Y bucket formed — Y could not reconnect")
    def run(cap: Int) = Dedup.minhashPairs(shingled, maxBucket = cap)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val capped = run(4)
    val uncapped = run(Int.MaxValue)
    // soundness: exact verify makes every capped pair a true pair
    assert(capped.keySet.subsetOf(uncapped.keySet))
    // (b) no cross-group pair, capped or not (J = 24/52 < 0.5)
    assert(!uncapped.keySet.exists { case (a, b) => a <= 8L && b >= 101L })
    assert(!capped.keySet.exists { case (a, b) => a <= 8L && b >= 101L })
    // (a) each group is ONE component in the capped output
    def components(pairs: Set[(Long, Long)]): Set[Set[Long]] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
      parent.keys.groupBy(find).values.map(_.toSet).toSet
    }
    assert(components(capped.keySet) ==
      Set((1L to 8L).toSet, (101L to 108L).toSet),
      s"components split: ${components(capped.keySet)}")
    // (c) the pinned recall loss: a true non-representative pair is
    // gone under the cap (present uncapped, J = 1.0)
    assert(uncapped.contains((2L, 3L)) && uncapped((2L, 3L)) == 1.0)
    assert(!capped.contains((2L, 3L)),
      "star candidates unexpectedly proposed a non-representative pair")
  }

  test("dedup03: the df cap is result-identical while max df <= cap") {
    // The cap prunes CANDIDATE GENERATION only; verification is exact
    // on full shingle sets. With the cap far above this corpus's max
    // shingle df, the pair set and every jaccard value must match the
    // effectively-uncapped run bit for bit.
    val capped = Dedup
      .dedup03NgramJaccard(lake)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    val uncapped = Dedup
      .dedup03NgramJaccard(lake, maxDf = Int.MaxValue)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(capped == uncapped)
    assert(capped.nonEmpty)
  }

  test("containment pairs are a superset of symmetric J>=0.9 pairs") {
    // C(A,B) = |A∩B|/min >= |A∩B|/union = J, so every J>=0.9 pair
    // must also clear the C>=0.9 gate.
    val cont = Dedup
      .dedup10Containment(lake)
      .select("doc_a", "doc_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val jac = Dedup
      .dedup03NgramJaccard(lake, threshold = 0.9, lenWindow = 1000000)
      .select("doc_a", "doc_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(jac.subsetOf(cont), s"missing ${jac -- cont}")
  }

  test("simhash banding finds most true near-dup pairs") {
    val near = Dedup
      .dedup03NgramJaccard(lake, threshold = 0.9)
      .select("doc_a", "doc_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val sim = Dedup
      .dedup05Simhash(lake)
      .select("doc_a", "doc_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recall = (near & sim).size.toDouble / near.size
    assert(recall >= 0.8, s"simhash recall $recall too low")
  }

  test("LSH ANN recall vs brute force is usable on uniform data") {
    val bf = Similarity
      .sim01TopKBruteForce(lake)
      .select("query_id", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val ann = Similarity
      .sim03LshAnn(lake)
      .select("query_id", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recall = (bf & ann).size.toDouble / bf.size
    info(s"LSH ANN recall = $recall")
    // 16 tables x 4 bits on near-uniform vectors (the hardest case):
    // measured 0.91 at sf0.001.
    assert(recall >= 0.8, s"ANN recall $recall below floor")
  }

  test("mutual kNN graph equals the reference mutual set; oriented, deduped, chunk-invariant") {
    // independent reference: exact kNN computed in plain Scala
    val raw = lake.embeddings.collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val k = 5
    val topk: Map[Long, Set[Long]] = raw.map { case (id, v) =>
      id -> raw.filter(_._1 != id)
        .map { case (oid, ov) => (oid, cos(v, ov)) }
        .sortBy { case (oid, c) => (-c, oid) }
        .take(k).map(_._1).toSet
    }.toMap
    val expected = (for {
      (s, ns) <- topk.toSeq; d <- ns
      if s < d && topk(d).contains(s)
    } yield (s, d)).toSet
    val got = Similarity.sim08KnnGraph(lake).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet == expected, s"mutual edge set mismatch: ${got.toSet.size} vs ${expected.size}")
    assert(got.length == got.toSet.size, "duplicate edges")
    assert(got.forall { case (s, d) => s < d }, "edges not min/max oriented")
    // blocking is a physical choice only: the edge set must not move
    val rechunked = Similarity.sim08KnnGraph(lake, chunks = 7).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rechunked == expected, "chunk count changed the result")
  }

  test("range search equals brute force; cell layout is a physical choice only") {
    val raw = lake.embeddings.collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    // same HALF_UP 4dp rounding as Spark's round(), applied BEFORE
    // the admission test (sim12's rounded-admission rule)
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val radius = 0.3
    val expected = (for {
      (q, qv) <- raw if q < 10
      (o, ov) <- raw if o != q
      c = r4(cos(qv, ov)) if c >= radius
    } yield (q, o, c)).toSet
    val got = Similarity.sim12RangeSearch(lake).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected, s"range set mismatch: ${got.size} vs ${expected.size}")
    // the cone prune must be invisible in the result: any cell count /
    // training depth yields the identical exact set
    val alt = Similarity.sim12RangeSearch(lake, nlist = 23, iters = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(alt == expected, "cell layout changed the exact result")
  }

  test("index writers release every frame they cached or checkpointed") {
    // Writers return Unit, so nothing downstream can unpersist their
    // intermediates — each must clean up its own storage or every
    // invocation pins executor memory for the session lifetime (the
    // ing10 cache-leak class, advisor round-9). Snapshot the
    // persistent-RDD registry around each writer: no new entries may
    // survive it.
    val sc = TestSpark.spark.sparkContext
    def leaks(body: => Unit): Set[Int] = {
      val before = sc.getPersistentRDDs.keySet
      body
      sc.getPersistentRDDs.keySet.diff(before.toSet).toSet
    }
    val dir = java.nio.file.Files.createTempDirectory("writer_leak").toString
    assert(leaks(Dedup.writeBandIndex(lake, s"$dir/band")).isEmpty)
    assert(leaks(Similarity.writeIvfIndex(lake, s"$dir/ivf")).isEmpty)
    assert(leaks(Similarity.writePqIndex(lake, s"$dir/pq")).isEmpty)
    assert(leaks(Similarity.writeSqIndex(lake, s"$dir/sq")).isEmpty)
    assert(leaks(Similarity.writeIvfPqIndex(lake, s"$dir/ivfpq")).isEmpty)
  }

  test("persisted band index: probe equals the inline incremental build exactly") {
    val dir = java.nio.file.Files.createTempDirectory("band_index").toString
    Dedup.writeBandIndex(lake, dir)
    // deterministic shingle/minhash pipeline: probing the stored
    // bands + shingles must reproduce the inline verdicts row for row
    val fromIndex = Dedup.incrementalFromIndex(lake, dir).collect().map(_.toSeq)
    val inline = Dedup.dedup12Incremental(lake).collect().map(_.toSeq)
    assert(fromIndex.toSeq == inline.toSeq)
  }

  test("capped band index: oversized buckets keep only the representative; probes inherit its verdicts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, length, lit}
    // planted corpus: 20 verbatim copies (every bucket of the group
    // has size 20), one genuine pair, one solo doc — the delta is the
    // top-25% of doc_ids, so the probes arrive against a stored index
    // of the mass group
    val page = (1 to 60).map(i => s"idx$i").mkString(" ")
    val dir = "target/tmp/band-index-cap"
    ((1L to 20L).map(i => (i, page)) ++ Seq(
      (40L, page),                                      // delta dup of the mass group
      (41L, (1 to 50).map(i => s"solo$i").mkString(" ")) // delta original
    )).toDF("doc_id", "text")
      .withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$dir/lake/documents.parquet")
    val planted = Lake(spark, s"$dir/lake")
    // capped build: every oversized bucket collapses to ONE row (rep)
    Dedup.writeBandIndex(planted, s"$dir/capped", maxBucket = 5)
    val bands = spark.read.parquet(s"$dir/capped/bands")
    val maxSz = bands.groupBy("band", "bucket").agg(count(lit(1)).as("n"))
      .agg(org.apache.spark.sql.functions.max("n")).head().getLong(0)
    assert(maxSz <= 5, s"capped index still has a bucket of $maxSz")
    assert(bands.filter(col("doc_id") === 1L).count() > 0,
      "the representative (min doc_id) must survive the cap")
    assert(bands.filter(col("doc_id") === 2L).count() == 0,
      "non-representative mass members must be dropped from oversized buckets")
    // probing the capped index still resolves the delta duplicate to
    // the representative, and keeps the original
    val v = Dedup.incrementalFromIndex(planted, s"$dir/capped")
      .collect().map(r => (r.getLong(0),
        (if (r.isNullAt(1)) -1L else r.getLong(1), r.getString(2)))).toMap
    assert(v(40L) == ((1L, "drop")), s"delta dup resolved to ${v(40L)}")
    assert(v(41L) == ((-1L, "keep")), s"delta original resolved to ${v(41L)}")
    // uncapped default stays bit-identical to the historical layout
    Dedup.writeBandIndex(planted, s"$dir/uncapped")
    val full = spark.read.parquet(s"$dir/uncapped/bands")
    assert(full.count() > bands.count(), "the cap removed nothing")
  }

  test("samp14: cluster balance is a complete partition; every over-quota cluster is capped") {
    val quota = 30
    val rows = Similarity.samp14ClusterBalance(lake, quota = quota)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getBoolean(4)))
    // one verdict per vector, affinity in [-1, 1]
    assert(rows.length == lake.embeddings.count())
    assert(rows.map(_._1).distinct.length == rows.length)
    rows.foreach { case (id, _, cos, _, _) =>
      assert(cos >= -1.0001 && cos <= 1.0001, s"vec $id affinity $cos")
    }
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (c, rs) =>
      // ranks are exactly 1..n, ordered by affinity desc
      assert(rs.map(_._4).sorted.toSeq == (1L to rs.length).toSeq, s"cluster $c ranks")
      val ordered = rs.sortBy(_._4)
      ordered.sliding(2).foreach {
        case Array(a, b) => assert(a._3 >= b._3, s"cluster $c not affinity-ordered")
        case _           =>
      }
      // the keep verdict IS the quota rule
      rs.foreach { case (id, _, _, rank, kept) =>
        assert(kept == (rank <= quota), s"vec $id rank $rank kept=$kept")
      }
      assert(rs.count(_._5) == math.min(quota, rs.length))
    }
    // the flattener actually bit: 500 vectors over <=10 clusters
    // pigeonhole at least one cluster past the quota
    assert(rows.count(_._5) < rows.length, "no cluster exceeded the quota")
    // and balance improved: kept-set max cluster share <= quota while
    // the raw max cluster is larger
    assert(byCluster.values.map(_.count(_._5)).max <= quota)
    assert(byCluster.values.map(_.length).max > quota)
  }

  test("samp14 keptOnly: the heap path IS the audit form filtered to kept") {
    val quota = 30
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getBoolean(4))
    val audit = Similarity.samp14ClusterBalance(lake, quota = quota)
      .filter("kept").collect().map(key(_)).toSet
    val kept = Similarity.samp14ClusterBalance(lake, quota = quota, keptOnly = true)
      .collect().map(key(_))
    // identical rows INCLUDING rank and rounded affinity: TopKByScore's
    // (score desc, id asc) contract matches the window's ORDER BY, so
    // heap position + 1 must equal the audit rank for every kept row
    assert(kept.toSet == audit, s"kept=${kept.length} audit=${audit.size}")
    assert(kept.length == kept.toSet.size)
  }

  test("dedup15: contamination report covers every benchmark doc with bounded fractions") {
    val nBench = 10
    val rows = Dedup.dedup15ContaminationReport(lake, nBench)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // one row per (non-empty) benchmark doc, never a corpus doc
    assert(rows.nonEmpty && rows.forall(_._1 < nBench))
    rows.foreach { case (id, nGrams, nHit, frac) =>
      assert(nGrams > 0, s"doc $id")
      assert(nHit >= 0 && nHit <= nGrams, s"doc $id: $nHit of $nGrams")
      assert(frac >= 0.0 && frac <= 1.0, s"doc $id frac $frac")
      assert(math.abs(frac - (nHit.toDouble / nGrams)) < 1e-3, s"doc $id")
    }
    // the corpus shares the benchmark's vocabulary, so contamination
    // must actually register (the operator isn't vacuously zero)
    assert(rows.exists(_._3 > 0), "no benchmark gram found in the corpus at all")
  }

  test("dedup15: the corpus side never shuffles — broadcast probes only") {
    val p = Dedup.dedup15ContaminationReport(lake)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("samp14: nlist <= 0 auto-scales clusters to ceil(sqrt(N))") {
    val n = lake.embeddings.count()
    val bound = math.ceil(math.sqrt(n.toDouble)).toLong
    val rows = Similarity.samp14ClusterBalance(lake, nlist = 0, quota = 5)
    assert(rows.count() == n)
    val nClusters = rows.select("cluster").distinct().count()
    // kmeans may leave some of the sqrt(N) seeds empty, never exceed it
    assert(nClusters <= bound && nClusters > 10,
      s"auto-nlist gave $nClusters clusters for n=$n (bound $bound)")
    // and the kept path agrees under the same auto rule
    val kept = Similarity.samp14ClusterBalance(lake, nlist = 0, quota = 5, keptOnly = true)
    assert(kept.count() == rows.filter("kept").count())
  }

  test("persisted IVF index: index-then-search equals train-then-search exactly") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_index").toString
    Similarity.writeIvfIndex(lake, dir)
    // the quantizer is deterministic, so searching the persisted
    // index must reproduce the inline-trained results row for row
    val fromIndex = Similarity.ivfAnnFromIndex(lake, dir)
      .collect().map(_.toSeq)
    val inline = Similarity.sim06IvfTrained(lake)
      .collect().map(_.toSeq)
    assert(fromIndex.toSeq == inline.toSeq)
    // the index is narrow: assignments carry ids only, never vectors
    val cells = TestSpark.spark.read.parquet(s"$dir/cells")
    assert(cells.columns.toSeq.sorted == Seq("cluster", "vec_id"))
  }

  test("persisted PQ index: index-then-search equals train-then-search exactly") {
    val dir = java.nio.file.Files.createTempDirectory("pq_index").toString
    Similarity.writePqIndex(lake, dir)
    // training is deterministic, so the persisted codebooks+codes
    // must reproduce the inline-trained ADC results row for row
    val fromIndex = Similarity.pqAnnFromIndex(lake, dir)
      .collect().map(_.toSeq)
    val inline = Similarity.sim07PqAnn(lake)
      .collect().map(_.toSeq)
    assert(fromIndex.toSeq == inline.toSeq)
    // the codes table is the compressed corpus: ids only, no vectors
    val codes = TestSpark.spark.read.parquet(s"$dir/codes")
    assert(codes.columns.toSeq.sorted == Seq("cluster", "sub_id", "vec_id"))
  }

  test("persisted PQ index: the reader takes m from the index it reads") {
    // written with m = 4, read with no m at all: slicing the queries at
    // any other m would score subvectors against the wrong codebooks
    val dir = java.nio.file.Files.createTempDirectory("pq_index_m4").toString
    Similarity.writePqIndex(lake, dir, m = 4)
    val fromIndex = Similarity.pqAnnFromIndex(lake, dir).collect().map(_.toSeq)
    val inline = Similarity.sim07PqAnn(lake, m = 4).collect().map(_.toSeq)
    assert(fromIndex.nonEmpty)
    assert(fromIndex.toSeq == inline.toSeq)
  }

  test("persisted PQ indexes: a corpus of another dimension fails the search, naming it") {
    // dim-64 indexes written from the test lake, searched against a lake
    // whose vectors keep only their first 32 dims: the check runs in
    // the search plan on the query rows, and names m, sd and the dim
    import org.apache.spark.sql.functions.{col, slice}
    val dir = java.nio.file.Files.createTempDirectory("pq_dim").toString
    Similarity.writePqIndex(lake, s"$dir/pq")
    Similarity.writeIvfPqIndex(lake, s"$dir/ivfpq")
    lake.embeddings.withColumn("embedding", slice(col("embedding"), 1, 32))
      .write.parquet(s"$dir/lake/embeddings.parquet")
    val narrow = Lake(spark, s"$dir/lake")
    for (search <- Seq(
      () => Similarity.pqAnnFromIndex(narrow, s"$dir/pq").collect(),
      () => Similarity.ivfPqAnnFromIndex(narrow, s"$dir/ivfpq").collect()
    )) {
      val e = intercept[Exception](search())
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString("\n")
      assert(messages.contains("persisted codebooks (m=8, sd=8) do not match corpus dim 32"),
        messages)
    }
  }

  test("persisted IVF-PQ index: index-then-search equals train-then-search exactly") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_index").toString
    Similarity.writeIvfPqIndex(lake, dir)
    val fromIndex = Similarity.ivfPqAnnFromIndex(lake, dir)
      .collect().map(_.toSeq)
    val inline = Similarity.sim14IvfPq(lake)
      .collect().map(_.toSeq)
    assert(fromIndex.toSeq == inline.toSeq)
    // cells + codes are the compressed corpus: ids only, no vectors
    val cells = TestSpark.spark.read.parquet(s"$dir/cells")
    assert(cells.columns.toSeq.sorted == Seq("cluster", "vec_id"))
    val codes = TestSpark.spark.read.parquet(s"$dir/codes")
    assert(codes.columns.toSeq.sorted == Seq("cluster", "sub_id", "vec_id"))
  }

  test("persisted SQ index: index-then-search equals train-then-search exactly") {
    val dir = java.nio.file.Files.createTempDirectory("sq_index").toString
    Similarity.writeSqIndex(lake, dir)
    val fromIndex = Similarity.sqAnnFromIndex(lake, dir)
      .collect().map(_.toSeq)
    val inline = Similarity.sim10SqAnn(lake)
      .collect().map(_.toSeq)
    assert(fromIndex.toSeq == inline.toSeq)
    // codes are the compressed corpus: id + uint8-range array only
    val codes = TestSpark.spark.read.parquet(s"$dir/codes")
    assert(codes.columns.toSeq.sorted == Seq("code", "vec_id"))
  }

  test("ANN-backed mutual kNN: full probe equals exact sim08; partial probe keeps recall, no corpus pair join") {
    val exact = Similarity.sim08KnnGraph(lake).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // probing every cell makes candidate generation exhaustive — the
    // ANN graph must equal the exact graph edge for edge
    val full = Similarity.sim11KnnGraphAnn(lake, nprobe = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact, s"full-probe ANN graph != exact (${full.size} vs ${exact.size})")
    // This corpus is near-uniform on the sphere (no cluster
    // structure), so recall cannot beat probe coverage by much —
    // the honest assertion is that cells capture what locality
    // exists: recall must EXCEED the raw nprobe/nlist coverage
    // fraction (0.4 here; measured 0.51 at sf0.001), and clear a
    // floor below the measurement's noise band.
    val ann = Similarity.sim11KnnGraphAnn(lake).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ann.intersect(exact).size.toDouble / exact.size
    info(s"ANN mutual-graph recall = $recall")
    assert(recall > 0.4, s"ANN recall $recall does not beat probe coverage")
    assert(ann.forall { case (s, d) => s < d }, "edges not min/max oriented")
    // auto-nlist (nlist <= 0 → ceil(sqrt(N)), dedup11's rule): the
    // scale contract that keeps the kernel n^1.5; at 500 vectors the
    // 23 cells still produce a valid mutual graph
    val auto = Similarity.sim11KnnGraphAnn(lake, nlist = 0, nprobe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto.nonEmpty && auto.forall { case (s, d) => s < d })
    // scale pin: the corpus meets itself ONLY through the cell-keyed
    // equi-join — the two BNLJs are the broadcast nlist-row centroid
    // cross joins (home assignment + probe ranking, sim05/06's
    // accepted shape); pairs never form outside cells
    val p = Similarity.sim11KnnGraphAnn(lake)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoop".r.findAllIn(p).length <= 2, p)
    // top-k is the native bounded-heap aggregate, never a sorted
    // window over the candidate stream (round-8 rewiring)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("WindowGroupLimit"), p)
  }

  test("bloom decontamination: no false negatives vs exact dedup07; equal at tight fpp; map-only probe") {
    val exact = Dedup.dedup07Decontaminate(lake).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val bloom = Dedup.dedup14BloomDecontaminate(lake).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // Bloom guarantee: every contaminated doc is flagged with AT
    // LEAST its true overlap (false positives only inflate)
    exact.foreach { case (id, n) =>
      assert(bloom.contains(id), s"false negative: doc $id lost")
      assert(bloom(id) >= n, s"doc $id undercounted: ${bloom(id)} < $n")
    }
    // at fpp=1e-6 on this corpus the filter is effectively exact
    assert(bloom == exact, "unexpected false positives at tight fpp")
    // the probe stage is map-only: no join anywhere in the plan (the
    // filter rides the closure, not a join side)
    val p = Dedup.dedup14BloomDecontaminate(lake)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p.linesIterator.take(10).mkString("\n"))
  }

  test("IVF ANN with full probe reproduces brute force exactly; partial probe trades recall") {
    val bf = Similarity
      .sim01TopKBruteForce(lake)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // probing every cell = exhaustive search: results must be identical
    val full = Similarity
      .sim05IvfAnn(lake, nprobe = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(full == bf, s"full-probe IVF != brute force: missing ${bf -- full}")
    // partial probe: a real recall/compute tradeoff, logged not pinned
    // (near-uniform embeddings make cells nearly uninformative — the
    // worst case for IVF)
    val part = Similarity
      .sim05IvfAnn(lake, nprobe = 3)
      .select("query_id", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val bfPairs = bf.map(t => (t._1, t._3))
    val recall = (bfPairs & part).size.toDouble / bfPairs.size
    info(s"IVF nprobe=3/10 recall = $recall")
    assert(recall >= 0.15, s"IVF recall $recall below sanity floor")
  }

  test("trained IVF: full probe == brute force; k-means objective improves with training") {
    val bf = Similarity
      .sim01TopKBruteForce(lake)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val full = Similarity
      .sim06IvfTrained(lake, nprobe = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(full == bf, s"full-probe trained IVF != brute force: ${bf -- full}")
    // spherical k-means: Σ cos(v, assigned centroid) is monotone
    // non-decreasing over Lloyd iterations
    import org.apache.spark.sql.functions.col
    val withNrm = lake.embeddings
      .select(
        col("vec_id"),
        graft.functions.vectors.toDouble(col("embedding")).as("v")
      )
      .withColumn("nrm", graft.functions.vectors.norm(col("v")))
    val o1 = DedupSimilaritySpec.kmeansObjective(withNrm, Similarity.kmeans(withNrm, 10, 1))
    val o3 = DedupSimilaritySpec.kmeansObjective(withNrm, Similarity.kmeans(withNrm, 10, 3))
    info(s"kmeans objective: 1 iter = $o1, 3 iters = $o3")
    assert(o3 >= o1 - 1e-9, s"objective regressed: $o1 -> $o3")
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val rows = Dedup.dedup06EmbeddingNearDup(lake).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(3) >= 0.4)
    }
  }

  test("SemDeDup: planted exact copies collapse; survivors are component minima; verdict partitions input") {
    import org.apache.spark.sql.functions._
    val base = lake.embeddings
      .select(
        col("vec_id"),
        graft.functions.vectors.toDouble(col("embedding")).as("v")
      )
      .withColumn("nrm", graft.functions.vectors.norm(col("v")))
    // Plant 5 exact copies under new ids: cos(copy, original) = 1,
    // so each pair must land in one duplicate group with one survivor.
    val copies = base.filter(col("vec_id") < 5).withColumn("vec_id", col("vec_id") + 100000L)
    val out = Dedup
      .semanticDedup(base.unionAll(copies), k = 10, iters = 2, tau = 0.9999)
      .collect()
    val n = base.count() + 5
    assert(out.length == n, s"verdict must cover every input vector: ${out.length} != $n")
    val byId = out.map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    (0L until 5L).foreach { id =>
      val (gOrig, sOrig) = byId(id)
      val (gCopy, sCopy) = byId(id + 100000L)
      assert(gOrig == gCopy, s"copy of $id not grouped with it")
      assert(gOrig == id, s"group id must be the component minimum, got $gOrig for $id")
      assert(sOrig && !sCopy, s"survivor must be the minimum id of group $id")
    }
    // Verdict partitions: every group's survivor is its minimum member.
    out.groupBy(_.getLong(2)).foreach { case (g, members) =>
      val ids = members.map(_.getLong(0))
      val survivors = members.filter(_.getBoolean(3)).map(_.getLong(0))
      assert(g == ids.min, s"group id $g is not its minimum member ${ids.min}")
      assert(survivors.toSeq == Seq(g), s"group $g survivors ${survivors.toSeq}")
    }
  }

  test("semanticDedup: blocked pair kernel equals the row-join path row for row") {
    // Round-13: above the pair-volume cutover the per-cell all-pairs
    // check runs as the fused BlockThresholdDots grid instead of the
    // row-level self-join. Both admit by round(cos, 4) >= tau, so the
    // verdict must be IDENTICAL — force each path at test scale.
    import org.apache.spark.sql.functions.col
    val base = lake.embeddings
      .select(col("vec_id"),
        graft.functions.vectors.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", graft.functions.vectors.norm(col("v")))
    def rows(cut: Double) = Dedup
      .semanticDedup(base, k = 7, iters = 1, tau = 0.4, blockedCutover = cut)
      .collect()
      .map(_.toString)
      .toSeq
    assert(rows(cut = 0.0) == rows(cut = Double.MaxValue),
      "blocked and row-join pair kernels disagree")
  }

  test("PQ ANN: code shape, determinism, and a recall floor against brute force") {
    val out = Similarity.sim07PqAnn(lake).collect()
    // shape: 10 queries x top-10, ranks 1..10 per query
    assert(out.length == 100)
    out.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to 10L), s"query $q ranks")
    }
    // deterministic end to end (seeded codebooks, tie-broken windows)
    val again = Similarity.sim07PqAnn(lake).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // ADC is lossy by design; on near-uniform random vectors (PQ's
    // worst case) recall vs exact cosine still must clear a sanity
    // floor. Measured 0.34 at sf0.001 with m=8, ks=16.
    val bf = Similarity
      .sim01TopKBruteForce(lake)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .toSet
    val pq = out.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (bf & pq).size.toDouble / bf.size
    info(s"PQ ADC recall@10 = $recall")
    assert(recall >= 0.15, s"PQ recall $recall below sanity floor")
  }

  test("IVF-PQ: shape and determinism; recall within reach of the exact-scoring IVF") {
    val out = Similarity.sim14IvfPq(lake).collect()
    assert(out.length == 100)
    out.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to 10L), s"query $q ranks")
    }
    val again = Similarity.sim14IvfPq(lake).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    val bf = Similarity.sim01TopKBruteForce(lake).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(s: Set[(Long, Long)]) = (bf & s).size.toDouble / bf.size
    val ivfpq = out.map(r => (r.getLong(0), r.getLong(2))).toSet
    // sim06 scores the SAME probed candidates exactly, so its recall
    // is the ceiling the residual-ADC approximation trades against.
    // On near-uniform random vectors (PQ's worst case — no cluster
    // structure for the residual codebooks to exploit) the measured
    // pair is 0.39 vs 0.89; the pin is the sim07-style sanity floor,
    // not the ceiling ratio, for the same reason sim07 pins 0.15.
    val ivf = Similarity.sim06IvfTrained(lake).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    info(s"IVF-PQ recall ${recall(ivfpq)} vs exact-IVF ceiling ${recall(ivf)}")
    assert(recall(ivfpq) <= recall(ivf),
      "compressed scoring cannot beat exact scoring of the same candidates")
    assert(recall(ivfpq) >= 0.2,
      s"IVF-PQ recall ${recall(ivfpq)} below sanity floor")
  }

  test("IVF-PQ refine: exact rerank dominates raw ADC recall; exhaustive ring is brute force") {
    val bf = Similarity.sim01TopKBruteForce(lake).collect()
    val bfSet = bf.map(r => (r.getLong(0), r.getLong(2))).toSet
    val adcSet = Similarity.sim14IvfPq(lake).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val refined = Similarity.sim15IvfPqRefine(lake).collect()
    assert(refined.length == 100)
    val refSet = refined.map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(s: Set[(Long, Long)]) = (bfSet & s).size.toDouble / bfSet.size
    // the candidate ring contains the ADC top-k, and an exact rerank
    // never evicts a true neighbor in favor of a falser one — sim13's
    // dominance argument, composed onto sim14's generator
    info(s"ivfpq-refine recall ${recall(refSet)} vs raw ADC ${recall(adcSet)}")
    assert(recall(refSet) >= recall(adcSet),
      s"refine ${recall(refSet)} < ADC ${recall(adcSet)}")
    // refined scores are EXACT cosines (bit-identical to brute force
    // on shared pairs)
    val bfScore = bf.map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    refined.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      bfScore.get(key).foreach(c =>
        assert(c == r.getDouble(3), s"$key score ${r.getDouble(3)} vs exact $c"))
    }
    // probing every cell with a corpus-covering ring degenerates to
    // exactly sim01 (rank-for-rank, score-for-score)
    val n = lake.embeddings.count().toInt
    val full = Similarity
      .sim15IvfPqRefine(lake, refine = n, nprobe = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val bfRows = bf.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(full.sameElements(bfRows), "exhaustive ivfpq-refine must equal brute force")
  }

  test("PQ refine: exact rerank dominates raw ADC recall; full-ring refine is brute force") {
    val bf = Similarity.sim01TopKBruteForce(lake).collect()
    val bfSet = bf.map(r => (r.getLong(0), r.getLong(2))).toSet
    val adcSet = Similarity.sim07PqAnn(lake).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val refined = Similarity.sim13PqRefine(lake).collect()
    // shape: same 10×10 contract as the other ANN entries
    assert(refined.length == 100)
    val refSet = refined.map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(s: Set[(Long, Long)]) = (bfSet & s).size.toDouble / bfSet.size
    // a true top-k neighbor inside the candidate ring always survives
    // the exact rerank (anything out-ranking it is a truer neighbor),
    // and the ring contains the ADC top-k — so refine recall can
    // never fall below raw ADC recall
    info(s"refine recall ${recall(refSet)} vs ADC ${recall(adcSet)}")
    assert(recall(refSet) >= recall(adcSet),
      s"refine ${recall(refSet)} < ADC ${recall(adcSet)}")
    // the refined scores are EXACT cosines: every reported pair's
    // score matches brute force's for the same pair
    val bfScore = bf.map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    refined.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      bfScore.get(key).foreach(c =>
        assert(c == r.getDouble(3), s"$key score ${r.getDouble(3)} vs exact $c"))
    }
    // a ring covering the corpus makes refine ≡ brute force exactly
    val n = lake.embeddings.count().toInt
    val full = Similarity.sim13PqRefine(lake, refine = n).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val bfRows = bf.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(full.sameElements(bfRows), "full-ring refine must equal brute force")
  }

  test("eval01: a lake with predicted pairs but no gold pair reads a NULL recall") {
    // two near-duplicate documents: dedup03 predicts the pair, but the
    // extra word changes the bag fingerprint, so n_gold = 0
    import spark.implicits._
    val text = (1 to 40).map(i => s"w$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("eval01_nogold").toString
    Seq((1L, text), (2L, s"$text extra"))
      .map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = Evaluation.eval01LinkageMetrics(Lake(spark, dir)).collect()
    assert(rows.length == 1, rows.toSeq)
    val r = rows.head
    assert(r.getAs[Long]("n_pred") == 1L && r.getAs[Long]("n_gold") == 0L, r)
    assert(r.isNullAt(r.fieldIndex("recall")), r)
    assert(r.getAs[Double]("f1") == 0.0, r)
  }

  test("ANN recall eval: full probe scores 1.0 everywhere; partial probe is internally consistent") {
    // nprobe = nlist makes the IVF leg exhaustive, so against the
    // brute-force truth every query must score perfect recall and the
    // true top-1 must sit at predicted rank 1.
    val full = Evaluation.eval02AnnRecall(lake, nprobe = 10).collect()
    assert(full.length == 10)
    full.foreach { r =>
      assert(r.getAs[Double]("recall_at_k") == 1.0, s"full-probe recall != 1: $r")
      assert(r.getAs[Double]("rr_top1") == 1.0, s"full-probe rr != 1: $r")
    }
    // Partial probe: hits are bounded by k, recall = n_hits/k exactly,
    // and rr_top1 is either 0 (missed) or a reciprocal 1/r, r <= k.
    val part = Evaluation.eval02AnnRecall(lake, nprobe = 3).collect()
    part.foreach { r =>
      val hits = r.getAs[Long]("n_hits")
      val recall = r.getAs[Double]("recall_at_k")
      val rr = r.getAs[Double]("rr_top1")
      assert(hits >= 0 && hits <= 10)
      assert(math.abs(recall - hits / 10.0) < 1e-9)
      val legalRr = 0.0 +: (1 to 10).map(rk => math.rint(1.0 / rk * 10000) / 10000)
      assert(legalRr.contains(rr), s"rr_top1 $rr is not a reciprocal rank")
    }
  }

  test("centroid silhouette matches a plain-Scala reference per label") {
    val raw = lake.embeddings.collect().map { r =>
      (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2))
    }
    val cents: Map[Int, Array[Double]] = raw.groupBy(_._3).map { case (l, vs) =>
      val dim = vs.head._2.length
      val c = Array.tabulate(dim)(i => vs.map(_._2(i)).sum / vs.length)
      l -> c
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val perVec = raw.map { case (_, v, l) =>
      val own = cos(v, cents(l))
      val other = cents.collect { case (cl, c) if cl != l => cos(v, c) }.max
      (l, own, other)
    }
    val expected = perVec.groupBy(_._1).map { case (l, rows) =>
      l -> (rows.length.toLong,
        rows.map(_._2).sum / rows.length,
        rows.map(_._3).sum / rows.length,
        rows.count(r => r._2 > r._3).toDouble / rows.length)
    }
    val got = Evaluation.eval04ClusterQuality(lake).collect()
    assert(got.length == expected.size, "label count mismatch")
    got.foreach { r =>
      val (n, own, other, purity) = expected(r.getInt(0))
      assert(r.getLong(1) == n)
      assert(math.abs(r.getDouble(2) - own) < 5e-4, s"avg_own off for $r")
      assert(math.abs(r.getDouble(3) - other) < 5e-4, s"avg_other off for $r")
      assert(math.abs(r.getDouble(4) - purity) < 5e-4, s"purity off for $r")
    }
    // a well-separated planted clustering scores higher own than other
    // everywhere on at least some labels is NOT guaranteed on uniform
    // data, so no separation floor is pinned — the cross-engine oracle
    // carries exactness; this test carries semantics.
  }

  test("prefix rerank: full-width/full-overfetch degenerations are exact; default recall usable") {
    val brute = Similarity.sim01TopKBruteForce(lake).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // overfetch covering the corpus makes stage 2 a full exact rerank —
    // identical to brute force for ANY prefix width
    val n = lake.embeddings.count().toInt
    assert(rows(Similarity.sim09PrefixRerank(lake, overfetch = n)).sameElements(brute),
      "full-overfetch rerank must equal brute force")
    // full-width prefix makes stage 1 already exact
    assert(rows(Similarity.sim09PrefixRerank(lake, prefixDims = 64)).sameElements(brute),
      "full-width prefix must equal brute force")
    // the default config keeps usable recall even on near-uniform
    // embeddings (the truncation worst case; measured 0.50 at sf0.01)
    val bSet = brute.map(t => (t._1, t._3)).toSet
    val pSet = rows(Similarity.sim09PrefixRerank(lake)).map(t => (t._1, t._3)).toSet
    val recall = (bSet & pSet).size.toDouble / bSet.size
    assert(recall >= 0.4, s"recall $recall below floor")
  }

  test("SQ8 ANN: reconstruction within half a quantization step; recall floor vs brute force") {
    import org.apache.spark.sql.functions.col
    // replay train+encode+decode in plain Scala and bound the error
    val vs = lake.embeddings
      .select(col("vec_id"), graft.functions.vectors.toDouble(col("embedding")).as("v"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val d = vs.head._2.length
    val lo = Array.tabulate(d)(i => vs.map(_._2(i)).min)
    val hi = Array.tabulate(d)(i => vs.map(_._2(i)).max)
    vs.foreach { case (_, v) =>
      (0 until d).foreach { i =>
        val rng = hi(i) - lo(i)
        val dec =
          if (rng > 0)
            java.math.BigDecimal.valueOf((v(i) - lo(i)) / rng * 255)
              .setScale(0, java.math.RoundingMode.HALF_UP)
              .doubleValue / 255.0 * rng + lo(i)
          else lo(i)
        // half a step = rng/510, plus float slack; rng=0 dims are exact
        assert(math.abs(dec - v(i)) <= rng / 510.0 + 1e-9,
          s"dim $i reconstruction off by ${math.abs(dec - v(i))}")
      }
    }
    // 8-bit codes are high fidelity: neighbor recall@10 stays high
    val brute = Similarity.sim01TopKBruteForce(lake).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val sq = Similarity.sim10SqAnn(lake).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & sq).size.toDouble / brute.size
    assert(recall >= 0.8, s"SQ8 recall $recall below floor")
  }

  test("exact-substring spans equal a brute-force scan; planted passages recovered") {
    val k = 8
    val docs = lake.documents
      .select("doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // replay the operator's deterministic planting + tokenization
    val toks = docs.map { case (id, t0) =>
      val t1 =
        if (id % 5 == 0)
          "shared prefix banner alpha beta gamma delta epsilon zeta eta " + t0
        else t0
      val t =
        if (id % 7 == 0)
          t1 + " common footer block one two three four five six seven eight nine"
        else t1
      id -> t.trim.replaceAll("\\s+", " ").split(" ")
    }
    val grams = toks.flatMap { case (id, w) =>
      if (w.length >= k)
        (0 to w.length - k).map(p => (w.slice(p, p + k).mkString(" "), id, p))
      else Nil
    }
    val dup = grams
      .groupBy(_._1)
      .filter(_._2.map(_._2).distinct.length >= 2)
      .keySet
    val expected = grams.filter(g => dup(g._1)).groupBy(_._2).map {
      case (id, hs) =>
        val spans = hs
          .map(_._3)
          .sorted
          .foldLeft(List.empty[(Int, Int)]) {
            case (Nil, p)                       => List((p, p + k))
            case ((s, e) :: rest, p) if p <= e  => (s, p + k) :: rest
            case (acc, p)                       => (p, p + k) :: acc
          }
        val lens = spans.map(s => s._2 - s._1)
        id -> (spans.length.toLong, lens.sum.toLong, lens.max.toLong)
    }
    val got = Dedup
      .dedup13ExactSubstring(lake)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == expected, "operator spans differ from brute-force scan")
    // every doc carrying a planted passage reports duplicated text
    docs.foreach { case (id, _) =>
      if (id % 5 == 0 || id % 7 == 0)
        assert(got.contains(id), s"doc $id missing its planted span")
    }
    // docs with both plants carry at least their combined mass (the
    // spans may have merged into a larger natural run, so no span
    // count is pinned — doc 70's 116-token template run is real)
    got.filter(_._1 % 35 == 0).foreach { case (id, (_, dupToks, _)) =>
      assert(dupToks >= 22, s"doc $id under-reports planted duplication")
    }
  }

  test("samp09: per-cell draw is capped, contiguous, deterministic, and cell-consistent") {
    val m = 20
    val picks = Dedup.samp09ClusterBalanced(lake, m = m).collect()
    assert(picks.nonEmpty)
    // ranks within each cell are 1..n_picked, n_picked <= m
    val byCell = picks.groupBy(_.getInt(0))
    byCell.foreach { case (c, rows) =>
      val rnks = rows.map(_.getInt(2)).sorted
      assert(rnks.head == 1 && rnks.last == rnks.length && rnks.length <= m,
        s"cell $c ranks $rnks")
    }
    // picks agree with dedup11's cell assignment (same machinery)
    val cells = Dedup
      .dedup11Semantic(lake)
      .collect()
      .map(r => r.getLong(0) -> r.getInt(1))
      .toMap
    picks.foreach { r =>
      assert(cells(r.getLong(1)) == r.getInt(0),
        s"vec ${r.getLong(1)} sampled from a different cell than assigned")
    }
    // deterministic end to end (hash order, not a random sample)
    val again = Dedup.samp09ClusterBalanced(lake, m = m).collect()
    assert(picks.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("ANN recall on clustered vectors >= recall on uniform at fixed config (r13 #5)") {
    // Every headline recall number is measured on uniform-random
    // vectors — PQ's documented worst case (no low-distortion
    // codebook exists) and k-means' degenerate case. The indexes are
    // BUILT for clustered corpora; this pins that on a
    // mixture-of-Gaussians corpus the same fixed config retrieves at
    // least as well as on a uniform one (GenClusteredEmb measures the
    // full curve at scale; this is the invariant's unit form).
    import org.apache.spark.sql.functions.col
    val n = 600
    val dim = 64
    val tmp = java.nio.file.Files.createTempDirectory("recall").toFile
    def writeLake(sub: String, mk: Long => (Array[Float], Int)): Lake = {
      import spark.implicits._
      val rows = (0L until n).map { i =>
        val (v, label) = mk(i)
        (i, v, label)
      }
      val dir = new java.io.File(tmp, sub).getAbsolutePath
      rows
        .toDF("vec_id", "embedding", "label")
        .select(col("vec_id"), col("embedding").cast("array<float>"),
          col("label").cast("int"))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      Lake(spark, dir)
    }
    // clustered: 8 tight Gaussians; uniform: the degenerate sigma-only
    // mixture with one cluster per vector's own noise (pure noise
    // around the origin — no structure for the quantizer to exploit)
    val clustered = writeLake("clustered",
      i => (GenClusteredEmb.vector(i, (i % 8).toInt, dim, 0.25), (i % 8).toInt))
    val uniform = writeLake("uniform",
      i => (GenClusteredEmb.vector(i, 0, dim, 0.0).indices.map { d =>
        // splitmix-uniform components, independent per (i, d)
        val z = (i * 131L + d) * 0x9e3779b97f4a7c15L
        val m1 = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        val m2 = (m1 ^ (m1 >>> 27)) * 0x94d049bb133111ebL
        (((m2 ^ (m2 >>> 31)) >>> 11).toDouble / (1L << 53) * 2 - 1).toFloat
      }.toArray, 0))
    def recall(l: Lake, refined: Boolean): Double = {
      val k = 10
      val truth = Similarity.sim01TopKBruteForce(l, k, 10)
        .select("query_id", "neighbor_id")
      val pred =
        (if (refined)
          Similarity.sim15IvfPqRefine(l, refine = 32, nlist = 8, nprobe = 2)
        else Similarity.sim14IvfPq(l, k, 10, nlist = 8, nprobe = 2))
          .select("query_id", "neighbor_id")
      truth.join(pred, Seq("query_id", "neighbor_id"), "left_semi")
        .count().toDouble / (k * 10)
    }
    // The invariant holds for the REFINED chain (sim15), not raw ADC:
    // measured here, raw-ADC recall on the clustered corpus (0.24) is
    // BELOW uniform (0.31) — inside a tight cluster every vector is
    // nearly equidistant from the query, so PQ's quantization error
    // exceeds the true top-10's distance margin and ADC ranking is
    // noise. Cell RETRIEVAL benefits from structure; exact in-cell
    // RANKING needs the refine pass once intra-cluster spread drops
    // below quantization resolution. That is precisely why sim15
    // (IVFPQ+RefineFlat) is the serving config: with refine, the
    // clustered corpus recovers the true neighbors the cells
    // captured, and clustered >= uniform holds.
    val rc = recall(clustered, refined = true)
    val ru = recall(uniform, refined = true)
    assert(rc >= ru, s"clustered refined recall $rc < uniform $ru")
    assert(rc >= 0.8, s"clustered refined recall unusable: $rc")
  }
}

object DedupSimilaritySpec {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  /** Spherical k-means objective Σ cos(v, centroid of assigned cell),
    * scored through the codebook's nearest-cell kernel. */
  def kmeansObjective(all: DataFrame, book: graft.plans.Codebook): Double =
    Similarity
      .argmaxCell(all, book, Seq.empty, keepCos = true)
      .agg(sum("ccos"))
      .head()
      .getDouble(0)

  /** Reference connected components over an undirected pair list
    * (doc_a, doc_b): returns (u, lbl) where lbl is the smallest node id
    * reachable from u, by plain min-label propagation — one hop per
    * round until sum(lbl) is stable, so it converges in
    * component-diameter rounds. The yardstick the star-CC rounds and
    * their union-find cutover are checked against. */
  def propagateLabels(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val edges = pairs
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionAll(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
    var labels = edges
      .select(col("u"))
      .distinct()
      .select(col("u"), col("u").as("lbl"))
      .localCheckpoint(false)
    // sum over ZERO rows is SQL null: an empty pair list reads as 0
    def checksum(df: DataFrame): Long = {
      val r = df.agg(sum("lbl")).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    var prevSum = checksum(labels)
    var converged = labels.isEmpty
    var iter = 0
    while (!converged && iter < maxIters) {
      val neighborMin = edges
        .join(labels.select(col("u").as("v"), col("lbl").as("vlbl")), "v")
        .groupBy("u")
        .agg(min("vlbl").as("nlbl"))
      labels = labels
        .join(neighborMin, Seq("u"), "left")
        .select(
          col("u"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl")
        )
        .localCheckpoint(false)
      val s = checksum(labels)
      converged = s == prevSum
      prevSum = s
      iter += 1
    }
    labels
  }
}

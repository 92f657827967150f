package graft.engine

import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.scalatest.funsuite.AnyFunSuite
import graft.sql.GraftSpark

class TextOpsSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.session("local[4]", appName = "text-spec")

  val sf = "/root/testdata/sf0.001"

  /** Brute-force shingle-jaccard pairs, same tokenization as TextOps. */
  def brutePairs(threshold: Double): Set[(Long, Long)] = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def shingles(t: String): Set[String] = {
      val w = t.trim.split("\\s+").filter(_.nonEmpty)
      if (w.length < 3) Set.empty
      else (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
    }
    val sets = docs.map { case (id, t) => id -> shingles(t) }
    (for {
      i <- sets.indices; j <- (i + 1) until sets.length
      (a, sa) = sets(i); (b, sb) = sets(j)
      if sa.nonEmpty && sb.nonEmpty
      inter = (sa & sb).size
      if inter.toDouble / (sa.size + sb.size - inter) >= threshold
    } yield (math.min(a, b), math.max(a, b))).toSet
  }

  test("minhash-LSH pairs: perfect precision, high recall vs brute force") {
    val got = TextOps.minhashLshPairs(
        spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text")
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = brutePairs(TextOps.JaccardThreshold)
    assert(truth.nonEmpty, "fixture should contain planted near-dup pairs")
    // precision is 1.0 by construction (candidates are exact-jaccard verified)
    assert((got -- truth).isEmpty, s"false positives: ${got -- truth}")
    // one min-hash key: a pair with Jaccard s is missed with probability
    // ≈ 1 - s; deterministic here
    val recall = got.size.toDouble / truth.size
    assert(recall >= 0.85, s"recall $recall (${got.size}/${truth.size})")
  }

  test("lshCandidates == a plain-Scala min-hash bucketing of the same docs") {
    // each doc's key is the min over its distinct 3-shingles of md5's top
    // 60 bits & AffineMask; docs sharing a key pair up unless more than
    // BandBucketCap docs share it
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def top60(s: String): Long =
      java.nio.ByteBuffer.wrap(md5.digest(s.getBytes("UTF-8"))).getLong >>> 4
    val keys = docs.select("doc_id", "text").collect().flatMap { r =>
      val w = r.getString(1).trim.split("\\s+").filter(_.nonEmpty)
      if (w.length < 3) None
      else Some(r.getLong(0) -> (0 to w.length - 3)
        .map(i => top60(s"${w(i)} ${w(i + 1)} ${w(i + 2)}") & TextOps.AffineMask).min)
    }
    val expected = keys.groupBy(_._2).values
      .map(_.map(_._1).sorted)
      .filter(_.length <= TextOps.BandBucketCap)
      .flatMap(ids => ids.combinations(2).map(p => (p(0), p(1))))
      .toSet
    val got = TextOps.lshCandidates(TextOps.shingleSet(docs, "doc_id", "text"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(expected.nonEmpty, "fixture should share min-hash keys")
    assert(got.length == got.toSet.size, "each candidate pair must come out once")
    assert(got.toSet == expected,
      s"extra=${got.toSet -- expected} missing=${expected -- got.toSet}")
  }

  test("minhashLshPairs: two calls leave no CacheManager entry behind") {
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // the session is shared with other specs, which may have cached frames
    spark.catalog.clearCache()
    val runs = (1 to 2).map(_ => TextOps.minhashLshPairs(docs, "doc_id", "text").collect().length)
    assert(cache.isEmpty)
    assert(runs.distinct.size == 1 && runs.head > 0, runs)
  }

  test("minhashLshPairs recall and precision vs brute force, thresholds 0.5-0.9") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rows = Seq(0.5, 0.6, 0.7, 0.8, 0.9).map { t =>
      val got = TextOps.minhashLshPairs(docs, "doc_id", "text", threshold = t)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val truth = brutePairs(t)
      (t, truth.size, got.size, (got & truth).size)
    }
    info("threshold | true pairs | found | recall | precision")
    rows.foreach { case (t, nTrue, nGot, hit) =>
      info(f"$t%.1f | $nTrue | $nGot | ${hit.toDouble / nTrue}%.3f | ${hit.toDouble / nGot}%.3f")
      assert(nTrue > 0 && hit == nGot, s"threshold $t: false positives or no true pairs")
    }
  }

  test("collect_capped: sorted members, NULL past cap, bounded merge across partitions") {
    import org.apache.spark.sql.functions._
    // ids 0..94, grouped by id%10: groups 0..4 have 10 members, 5..9 have 9
    val df = spark.range(0, 95).select((col("id") % 10).as("g"), col("id").as("v"))
      .repartition(13) // force partial buffers + merges
    val got = df.groupBy("g")
      .agg(graft.sql.functions.collect_capped(col("v"), 9).as("ids"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
    (0L to 4L).foreach(g => assert(got(g).isEmpty, s"group $g exceeds cap, must be NULL"))
    (5L to 9L).foreach { g =>
      assert(got(g).contains((g until 95L by 10L).toSeq),
        s"group $g must be the full SORTED member list, got ${got(g)}")
    }
    // string children (UTF8String buffers survive serialize/merge)
    val gotS = df.select(col("g"), concat(lit("x"), lpad(col("v").cast("string"), 3, "0")).as("v"))
      .groupBy("g").agg(graft.sql.functions.collect_capped(col("v"), 10).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    (0L to 4L).foreach { g =>
      assert(gotS(g) == (g until 95L by 10L).map(v => f"x$v%03d"),
        s"string group $g wrong: ${gotS(g)}")
    }
  }

  test("LSH band-bucket cap: a planted boilerplate bucket stays bounded") {
    import spark.implicits._
    // 300 identical boilerplate docs (one giant band bucket: 300²/2 ≈ 45k
    // candidate pairs without the cap) + 2 genuine near-dups
    val boiler = (0L until 300L).map(i =>
      (i, "the same boilerplate header text repeated on every page of the site"))
    val nearDup = Seq(
      (1000L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1001L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"))
    val docs = (boiler ++ nearDup).toDF("doc_id", "text")
    val sh = TextOps.shingleSet(docs, "doc_id", "text")
    val cands = TextOps.lshCandidates(sh, "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // the boilerplate bucket (size 300 > cap) is excluded; only the real
    // near-dup pair survives candidate generation
    assert(cands.length <= 4, s"candidates not bounded: ${cands.length}")
    assert(cands.contains((1000L, 1001L)), s"near-dup pair lost: ${cands.toSeq}")
    val pairs = TextOps.minhashLshPairs(docs, "doc_id", "text").collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).contains((1000L, 1001L)))
    // and WITHOUT the cap the bucket explodes — proves the guard is live
    val uncapped = TextOps.lshCandidates(sh, "doc_id", bucketCap = 1 << 20).count()
    assert(uncapped > 40000L, s"uncapped candidate count unexpectedly small: $uncapped")
  }

  test("blockedNearDup: oversized label block is SRP-sub-bucketed, pairs still found") {
    import spark.implicits._
    val dim = 8
    val rnd = new scala.util.Random(11)
    // one hot label with 150 rows (> SubBlockCap=100), incl. two identical
    // vectors; one small label with two near-dups (all-pairs path)
    def vec(): Seq[Float] = Seq.fill(dim)(rnd.nextFloat() * 2 - 1)
    val dup = vec()
    val hot = (0L until 148L).map(i => (i, vec(), 0)) ++
      Seq((900L, dup, 0), (901L, dup, 0))
    val small = Seq((950L, dup, 1), (951L, dup.updated(0, dup.head + 1e-4f), 1))
    val emb = (hot ++ small).toDF("vec_id", "embedding", "label")
    val got = AnnOps.blockedNearDup(emb, "vec_id", "embedding", "label", dim, 0.999)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical vectors share every SRP sign bit → found despite sub-bucketing
    assert(got.contains((900L, 901L)), s"hot-block identical pair lost: $got")
    assert(got.contains((950L, 951L)), s"small-block pair lost: $got")
    // sub-bucketing is live: hot-label join keys are spread over >1 bucket
    val buckets = emb.where($"label" === 0)
      .select(AnnOps.srpBucket("embedding", dim, AnnOps.SubPlanes)).distinct().count()
    assert(buckets > 4, s"SRP bucketing degenerate: $buckets buckets")
  }

  test("dedupClusters: components resolve to min-id reps (chain, clique, star, big path)") {
    import spark.implicits._
    // chain 1-2-3; clique {10,11,12}; star 20-{21,22,23}; 40-node path
    // (exercises multiple large/small-star rounds: min-label flooding
    // would need 40 rounds, star contraction O(log)); reversed/dup pairs
    val pairs = (Seq((2L, 1L), (2L, 3L), (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L), (20L, 22L), (23L, 20L), (2L, 3L)) ++
      (100L until 139L).map(i => (i + 1, i))).toDF("doc_a", "doc_b")
    val got = TextOps.dedupClusters(pairs).as[(Long, Long)].collect().toMap
    val expected =
      Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L,
        20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L).toMap ++
      (100L to 139L).map(_ -> 100L).toMap
    assert(got == expected)
  }

  test("dedupClusters: q32 pair set matches driver-side union-find") {
    import spark.implicits._
    val pairs = TextOps.minhashLshPairs(
        spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text")
      .select("doc_a", "doc_b")
    val got = TextOps.dedupClusters(pairs).as[(Long, Long)].collect().toMap
    // independent driver-side union-find oracle
    val edges = pairs.as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val expected = nodes.map(n => n -> find(n)).toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("dedupKeepRepresentatives: one survivor per cluster, singletons untouched") {
    import spark.implicits._
    val docs = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val kept = TextOps.dedupKeepRepresentatives(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 5L)) // reps 1 and 5 survive; singleton 4 kept
  }

  test("simhash: near-dup pairs have small hamming distance, random pairs large") {
    val sim = TextOps.simhash60(
        spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val dups = brutePairs(0.9)
    assert(dups.nonEmpty)
    val dupHam = dups.toSeq.map { case (a, b) => ham(sim(a), sim(b)) }
    val rnd = new scala.util.Random(7)
    val ids = sim.keys.toArray
    val randHam = (0 until 200).map { _ =>
      val a = ids(rnd.nextInt(ids.length)); val b = ids(rnd.nextInt(ids.length))
      ham(sim(a), sim(b))
    }.filter(_ > 0)
    // docs share one small vocabulary (word-soup fixture), so absolute
    // random-pair distances are modest; assert clear SEPARATION instead
    val dupMean = dupHam.sum.toDouble / dupHam.size
    val randMean = randHam.sum.toDouble / randHam.size
    assert(dupHam.max < 10, s"dup hamming too high: ${dupHam.max}")
    assert(randMean > dupMean + 5.0, s"no separation: dup=$dupMean rand=$randMean")
  }

  test("fingerprint's tokenizing projection runs inside a whole-stage codegen stage") {
    val docs = spark.range(0, 8)
      .selectExpr("id AS doc_id", "concat(' b  a ', cast(id % 2 AS STRING), ' a') AS text")
    val plan = TextOps.fingerprint(docs, "doc_id", "text").queryExecution.executedPlan
    assert(plan.collect { case w: WholeStageCodegenExec => w }
      .exists(_.child.find(_.isInstanceOf[ProjectExec]).isDefined), plan)
    // order-insensitive over distinct tokens: ' b  a 0 a' and '0 a b' agree
    val fps = TextOps.fingerprint(docs, "doc_id", "text").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val same = TextOps.fingerprint(spark.range(1).selectExpr("0L AS doc_id", "'0 a b' AS text"), "doc_id", "text")
    assert(fps(0L) == same.collect()(0).getLong(1))
    assert(fps(0L) != fps(1L))
  }
}

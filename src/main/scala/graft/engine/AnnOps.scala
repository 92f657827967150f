package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor / embedding similarity operators over an
  * `embedding: array<float>` column (dim fixed per table).
  *
  * Numeric parity with the DuckDB oracle: dot products and norms are built
  * as explicit left-to-right chains of `cast(e[i] as double) * q_i`
  * additions — the oracle emits the same chain — so doubles agree bitwise
  * (float→double widening and IEEE ops are exact/correctly rounded in both
  * engines).
  */
object AnnOps {
  /** Deterministic rational query vectors (exact decimal literals on both
    * sides): qv(q)(j) = ((q*dim + j) * 37 % 190 - 90) / 100. */
  def queryVec(q: Int, dim: Int): Array[Double] =
    Array.tabulate(dim)(j => (((q * dim + j) * 37) % 190 - 90) / 100.0)

  /** Left-to-right dot product with a constant vector. zip_with+aggregate
    * fold left in element order, so the double sum is bit-identical to the
    * oracle's explicit `e[1]*q1 + e[2]*q2 + …` chain, with codegen that
    * stays O(1) in dim instead of a 64-term expression tree (the explicit
    * form made Janino compile multi-KB methods per query). */
  def dotConst(embCol: String, qv: Array[Double]): Column = {
    val qlit = array(scala.collection.immutable.ArraySeq.unsafeWrapArray(qv.map(lit)): _*)
    aggregate(zip_with(col(embCol).cast("array<double>"), qlit, (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
  }

  /** Left-to-right squared norm of the embedding column. */
  def norm2(embCol: String): Column =
    aggregate(col(embCol).cast("array<double>"), lit(0.0), (acc, x) => acc + x * x)

  /** The top-k of every query by cosine: query q's (qid, vec_id, cosine)
    * rows come from `rowsFor(qv)` of its query vector, a frame carrying
    * the row norm `_n`. Each branch is cut to its exact top-k by (cosine
    * desc, id asc) BEFORE the union, which Spark plans as
    * TakeOrderedAndProject — a per-partition bounded heap + merge, never a
    * full shuffle of all rows×queries into per-qid sort partitions (the
    * global-window formulation puts the whole table in one partition per
    * query at 100 TB). The final row_number window then runs over ≤
    * nQueries·k survivor rows. */
  private def rankByCosine(idCol: String, embCol: String, dim: Int, nQueries: Int, k: Int)(
      rowsFor: Array[Double] => DataFrame): DataFrame = {
    val topped = (0 until nQueries).map { q =>
      val qv = queryVec(q, dim)
      val qn = math.sqrt(qv.map(x => x * x).sum)
      val cos = (dotConst(embCol, qv) / (col("_n") * lit(qn))).as("cosine")
      rowsFor(qv).select(lit(q).as("qid"), col(idCol).as("vec_id"), cos)
        .orderBy(col("cosine").desc, col("vec_id").asc).limit(k)
    }
    val all = topped.reduce(_ unionAll _)
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id").asc)
    all.withColumn("rnk", row_number().over(w).cast("bigint"))
      .where(col("rnk") <= k)
      .select("qid", "rnk", "vec_id", "cosine")
  }

  /** Brute-force exact top-k by cosine for nQueries fixed query vectors.
    * Output (qid, rnk, vec_id, cosine). Scale note: this is the baseline /
    * rerank primitive — a full scan per query batch with a distributed
    * bounded-heap top-k (see [[rankByCosine]]). */
  def annBrute(emb: DataFrame, idCol: String, embCol: String,
               dim: Int, nQueries: Int, k: Int): DataFrame = {
    // hoist the row norm out of the per-query branches: one sqrt per row
    val withNorm = emb.withColumn("_n", sqrt(norm2(embCol)))
    rankByCosine(idCol, embCol, dim, nQueries, k)(_ => withNorm)
  }

  /** Sign-random-projection LSH bucket id (nPlanes fixed deterministic
    * hyperplanes — rows of [[queryVec]] offset by 100). The scale path:
    * bucket once, shuffle by bucket, compare only within buckets. */
  def srpBucket(embCol: String, dim: Int, nPlanes: Int): Column =
    (0 until nPlanes).map { p =>
      when(dotConst(embCol, queryVec(100 + p, dim)) >= 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)

  /** LSH-bucketed ANN: exact cosine rerank, but only among vectors whose
    * SRP bucket matches the query's bucket (approximate recall, no full
    * scan). Output (qid, rnk, vec_id, cosine). */
  def annLsh(emb: DataFrame, idCol: String, embCol: String,
             dim: Int, nQueries: Int, k: Int): DataFrame = {
    val nPlanes = 8
    val bucketed = emb.withColumn("_bucket", srpBucket(embCol, dim, nPlanes))
      .withColumn("_n", sqrt(norm2(embCol)))
    rankByCosine(idCol, embCol, dim, nQueries, k) { qv =>
      val qBucket = // the query's own bucket, computed the same way
        (0 until nPlanes).map { p =>
          val plane = queryVec(100 + p, dim)
          val d = qv.indices.map(j => qv(j) * plane(j)).sum
          if (d >= 0) 1L << p else 0L
        }.sum
      bucketed.where(col("_bucket") === qBucket)
    }
  }

  /** Collect the coarse quantizer: the vectors with id below nCentroids,
    * widened float→double exactly as the in-plan cast does. A corpus with
    * fewer such vectors gets that many centroids (one inverted list each).
    * Bounded — the quantizer always fits in driver memory (it is broadcast
    * as literals into every probe/assignment expression). */
  private def collectCentroids(emb: DataFrame, idCol: String, embCol: String,
                               nCentroids: Int): Array[(Long, Array[Double])] = {
    val cents = emb.where(col(idCol) < nCentroids)
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, s"no vector with $idCol below $nCentroids to serve as a centroid")
    cents
  }

  /** `emb`'s id and embedding plus `cent_id`, the nearest centroid's id
    * as ONE project-stage expression: per centroid the
    * squared-L2 fold (same element order as the oracle), argmin via
    * array_min over (d2, cent_id) structs — struct ordering IS the
    * (d2 asc, cent_id asc) tie-break. Replaces the previous
    * crossJoin(×nCentroids) + Window row_number argmin, which shuffled
    * corpus×nCentroids rows to pick a per-row minimum (guide §2.4: remove
    * shuffles outright — assignment is now map-only). */
  private def withCentId(emb: DataFrame, idCol: String, embCol: String,
                         cents: Array[(Long, Array[Double])]): DataFrame = {
    val branches = cents.map { case (cid, cv) =>
      val cvlit = array(scala.collection.immutable.ArraySeq.unsafeWrapArray(cv.map(lit)): _*)
      val d2 = aggregate(
        zip_with(col(embCol).cast("array<double>"), cvlit, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
      struct(d2.as("d2"), lit(cid).as("cent_id"))
    }
    emb.withColumn("cent_id",
        array_min(array(scala.collection.immutable.ArraySeq.unsafeWrapArray(branches): _*))
          .getField("cent_id"))
      .select(col(idCol), col(embCol), col("cent_id"))
  }

  /** The query's nProbe nearest centroids, driver-side (same sequential
    * fold and (d2, cent_id) tie-break as the oracle SQL — the pattern
    * annIvfIndexed always used). */
  private def probesFor(qv: Array[Double], cents: Array[(Long, Array[Double])],
                        nProbe: Int): Array[Long] =
    cents.map { case (cid, cv) =>
      var acc = 0.0
      var j = 0
      while (j < cv.length) { val d = qv(j) - cv(j); acc += d * d; j += 1 }
      (acc, cid)
    }.sortBy(identity).take(nProbe).map(_._2)

  /** IVF-flat ANN: a deterministic coarse quantizer — centroids are the
    * first nCentroids vectors by id (data-sampled, no iterative training;
    * the assignment/probe/rerank pipeline is the scale shape being built) —
    * partitions vectors into inverted lists; a query probes its nProbe
    * nearest centroid lists and exact-reranks ONLY those, so the scan
    * shrinks by ~nProbe/nCentroids. At scale the assigned table would be
    * written partitioned by cent_id (same layout trick as the tile index)
    * so probes prune at file level. Fully SQL-expressible, so unlike the
    * SRP-LSH variant this one is oracle-checked hash-exact (q41).
    * Output (qid, rnk, vec_id, cosine). */
  def annIvf(emb: DataFrame, idCol: String, embCol: String, dim: Int,
             nQueries: Int, k: Int, nCentroids: Int = 8, nProbe: Int = 2): DataFrame = {
    val centroids = collectCentroids(emb, idCol, embCol, nCentroids)
    val assigned = withCentId(emb, idCol, embCol, centroids)
      .withColumn("_n", sqrt(norm2(embCol)))
    rankByCosine(idCol, embCol, dim, nQueries, k) { qv =>
      val probes = probesFor(qv, centroids, nProbe)
      assigned.where(col("cent_id").isin(scala.collection.immutable.ArraySeq.unsafeWrapArray(probes.map(Long.box)): _*))
    }
  }

  /** Materialize the IVF layout: every embedding row lands in the
    * directory PARTITION of its nearest centroid (the same deterministic
    * data-sampled quantizer as [[annIvf]]), written as an IcebergLite
    * table with `ivf.*` properties recorded in the manifest. This is the
    * "at scale" half of the IVF design made real: with inverted lists as
    * partitions, a probe reads only its lists' FILES — the same
    * file-listing-time pruning the spatial tile indexes get. */
  def writeIvfIndex(emb: DataFrame, idCol: String, embCol: String, dim: Int,
                    table: String, nCentroids: Int = 8): Unit = {
    val centroids = collectCentroids(emb, idCol, embCol, nCentroids)
    graft.data.IcebergLite.write(withCentId(emb, idCol, embCol, centroids), table, "cent_id",
      properties = Map("ivf.n_centroids" -> centroids.length.toString,
                       "ivf.dim" -> dim.toString,
                       "ivf.id_col" -> idCol, "ivf.emb_col" -> embCol,
                       // centroid vectors in the manifest: probe selection
                       // at query time needs NO table scan (a filter on a
                       // non-partition column read every file — ADVICE r5)
                       "ivf.centroids" -> serializeCentroids(centroids)))
  }

  /** Manifest-safe centroid codec: `cid:v,v,…|cid:…` (no ';', '=', tabs —
    * the manifest property charset). Double.toString/parseDouble round-trip
    * exactly, so the parsed vectors are bit-identical to the collected
    * ones. */
  private def serializeCentroids(cents: Array[(Long, Array[Double])]): String =
    cents.map { case (cid, cv) => s"$cid:${cv.mkString(",")}" }.mkString("|")

  private def parseCentroids(s: String): Array[(Long, Array[Double])] =
    s.split('|').map { part =>
      val i = part.indexOf(':')
      (part.substring(0, i).toLong,
       part.substring(i + 1).split(',').map(java.lang.Double.parseDouble))
    }

  /** ANN over a pre-built IVF index table ([[writeIvfIndex]]): probe
    * selection runs DRIVER-side against the nCentroids collected centroid
    * vectors (bounded — the coarse quantizer always fits in memory; the
    * squared-L2 fold runs in the same element order and with the same
    * (d2, cent_id) tie-break as the oracle, so results stay hash-exact
    * with q41's SQL), and each query's scan carries `cent_id IN (probes)`
    * — a filter on the DIRECTORY PARTITION column, so only the probed
    * lists' files are read. Output (qid, rnk, vec_id, cosine), identical
    * to [[annIvf]] for the same parameters. */
  def annIvfIndexed(spark: org.apache.spark.sql.SparkSession, table: String,
                    dim: Int, nQueries: Int, k: Int, nProbe: Int = 2): DataFrame = {
    // manifest and scan from ONE snapshot (see IcebergLite.current)
    val snap = graft.data.IcebergLite.current(spark, table)
    val manifest = snap.manifest
    val idCol = manifest.properties("ivf.id_col")
    val embCol = manifest.properties("ivf.emb_col")
    // centroid vectors come from the manifest (writeIvfIndex records them):
    // zero table scan for probe selection
    val centroids = parseCentroids(manifest.properties.getOrElse("ivf.centroids",
      throw new IllegalStateException(s"IVF table $table records no ivf.centroids")))
    val withNorm = snap.df.withColumn("_n", sqrt(norm2(embCol)))
    rankByCosine(idCol, embCol, dim, nQueries, k) { qv =>
      val probes = probesFor(qv, centroids, nProbe)
      withNorm.where(col("cent_id").isin(scala.collection.immutable.ArraySeq.unsafeWrapArray(probes.map(Long.box)): _*)) // partition-level prune
    }
  }

  /** A label block bigger than this gets SUB-BUCKETED by SRP sign bits: one
    * hot label at 100 TB would otherwise make the within-block pair join
    * O(n²). Blocks at or under the cap keep exact all-pairs semantics; the
    * oracle SQL reproduces the same branch. */
  val SubBlockCap = 100
  val SubPlanes = 8

  /** Embedding near-duplicate pairs, label-blocked (compare only within the
    * same `label` block — the blocking pattern that avoids O(n²) at scale).
    * Oversized blocks (> [[SubBlockCap]] rows) are further split by SRP
    * bucket ([[srpBucket]] over [[SubPlanes]] planes), trading recall on merely-similar pairs for bounded
    * candidate counts — true near-dups agree on sign bits with high
    * probability. The sub-bucket is part of the JOIN KEY (not a post-join
    * filter), so the quadratic blow-up never materializes.
    * Output (vec_a, vec_b, cosine ≥ threshold). */
  def blockedNearDup(emb: DataFrame, idCol: String, embCol: String, labelCol: String,
                     dim: Int, threshold: Double): DataFrame = {
    val cnt = emb.groupBy(col(labelCol)).agg(count(lit(1)).as("_ln"))
    val keyed = emb.join(cnt, labelCol) // AQE broadcasts the tiny count side
      .withColumn("_jb", when(col("_ln") > SubBlockCap,
        srpBucket(embCol, dim, SubPlanes)).otherwise(lit(-1L)))
    // norms computed once per ROW (not per pair): sqrt hoisted above the join
    val a = keyed.select(col(labelCol).as("_l"), col("_jb"),
        col(idCol).as("vec_a"), col(embCol).as("_ea"))
      .withColumn("_na", sqrt(norm2("_ea")))
    val b = keyed.select(col(labelCol).as("_l"), col("_jb"),
        col(idCol).as("vec_b"), col(embCol).as("_eb"))
      .withColumn("_nb", sqrt(norm2("_eb")))
    val dot = aggregate(
      zip_with(col("_ea").cast("array<double>"), col("_eb").cast("array<double>"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val cos = dot / (col("_na") * col("_nb"))
    a.join(b, Seq("_l", "_jb")).where(col("vec_a") < col("vec_b"))
      .withColumn("cosine", cos)
      .where(col("cosine") >= threshold)
      .select("vec_a", "vec_b", "cosine")
  }
}

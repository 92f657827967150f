package graft.engine

import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.BBox
import graft.sql.{CellIndex, GraftSpark, ParamInSet}

class EngineOpsSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.session("local[4]", appName = "engine-spec")
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"
  def customers = SpatialOps.withDerivedPosition(
    spark.read.parquet(s"$sf/customer.parquet").select("c_custkey"), "c_custkey")

  /** Six rows exactly 0.5 deg from [[TieQuery]] (two sharing a position):
    * k = 3 cuts through the tie, which the key breaks. */
  val TieQuery = (-30.0, -60.0)
  def ties = Seq((900001L, -29.5, -60.0), (900002L, -30.5, -60.0), (900003L, -30.0, -59.5),
    (900004L, -30.0, -60.5), (900005L, -29.5, -60.0), (900006L, -30.5, -60.0))
    .toDF("c_custkey", "lon", "lat")

  test("h3u SQL surface: functions callable from SQL text, consistent with core") {
    val r = spark.sql(
      """SELECT h3u_cell(-122.0553238, 37.3615593, 5) AS c,
        |       h3u_token(h3u_cell(-122.0553238, 37.3615593, 5)) AS t,
        |       h3u_resolution(h3u_cell(-122.0553238, 37.3615593, 5)) AS r,
        |       size(h3u_children(h3u_cell(-122.0553238, 37.3615593, 5), 6)) AS nc,
        |       size(h3u_disk(h3u_cell(-122.0553238, 37.3615593, 5), 1)) AS nd,
        |       h3u_boundary_wkt(h3u_cell(-122.0553238, 37.3615593, 5)) AS wkt
        |""".stripMargin).collect()(0)
    assert(r.getAs[String]("t") == "85283473fffffff") // published golden via SQL
    assert(r.getAs[Int]("r") == 5)
    assert(r.getAs[Int]("nc") == 7)
    assert(r.getAs[Int]("nd") == 7)
    assert(r.getAs[String]("wkt").startsWith("POLYGON ((") &&
           r.getAs[String]("wkt").count(_ == ',') == 6) // 6 corners + closure
  }

  test("knnRing == knnBrute for several query points, ks and precisions") {
    val table = customers.unionByName(ties)
    def check(index: CellIndex, level: Int, qi: Int, qx: Double, qy: Double, k: Int): Unit = {
      val brute = SpatialOps.knnBrute(table, "lon", "lat", Seq((qi, qx, qy)), k, "c_custkey")
        .select("qid", "rank", "c_custkey").collect().map(r => (r.getInt(1), r.getLong(2))).sorted
      val ring = SpatialOps.knnRing(table, "lon", "lat", qi, qx, qy, k, level, "c_custkey", index)
        .select("rank", "c_custkey").collect().map(r => (r.getInt(0), r.getLong(1))).sorted
      assert(ring.toSeq == brute.toSeq, s"$index q=($qx,$qy) k=$k level=$level")
    }
    val pts = Seq((-0.75, 51.25), (139.75, 35.5), (10.0, -40.0), (-120.5, 60.25))
    for (((qx, qy), qi) <- pts.zipWithIndex; k <- Seq(3, 10); bits <- Seq(16, 20))
      check(CellIndex.Geohash, bits, qi, qx, qy, k)
    // the edges of the disc finish on every index: a cell edge and corner
    // (lon 0 / 45, lat 0 / 22.5), within one k-th distance of ±180° and of
    // each pole, and neighbours that tie in distance
    val edges = Seq((0.0, 0.0), (45.0, 22.5), (179.99, 5.0), (-179.99, -5.0), (30.0, 89.99),
      (-60.0, -89.99))
    for ((index, level) <- Seq(CellIndex.Geohash -> 16, CellIndex.H3U -> 2, CellIndex.S2U -> 5)) {
      for (((qx, qy), qi) <- edges.zipWithIndex) check(index, level, qi, qx, qy, 10)
      for (k <- Seq(3, 10)) check(index, level, 9, TieQuery._1, TieQuery._2, k)
    }
  }

  test("knnRing: empty table and k > rows return what exists, no NPE") {
    val empty = customers.where($"c_custkey" < 0)
    val three = customers.limit(3)
    val all3 = three.select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    Seq(CellIndex.Geohash -> 16, CellIndex.Geohash -> 20, CellIndex.H3U -> 2, CellIndex.S2U -> 5).foreach {
      case (index, level) =>
        assert(SpatialOps.knnRing(empty, "lon", "lat", 0, -0.75, 51.25, 5, level, "c_custkey", index)
          .count() == 0, s"$index")
        val got = SpatialOps.knnRing(three, "lon", "lat", 0, -0.75, 51.25, 10, level, "c_custkey", index)
        assert(got.select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq == all3,
          s"$index: k > rows should return all rows")
    }
  }

  test("image hot-spot rows spread across all 5 planted cluster centers") {
    val hits = (0L until 5000L).map(i => graft.data.ImageGen.posOf(graft.data.ImageGen.idOf(i)))
      .filter { case (lon, lat) => // near any hot center?
        Seq((-0.125, 51.5), (139.75, 35.5), (-46.5, -23.5), (77.25, 28.5), (151.25, -33.75))
          .exists { case (cx, cy) => math.abs(lon - cx) <= 0.021 && math.abs(lat - cy) <= 0.021 }
      }
    val perCenter = Seq((-0.125, 51.5), (139.75, 35.5), (-46.5, -23.5), (77.25, 28.5), (151.25, -33.75))
      .map { case (cx, cy) => hits.count { case (lon, lat) =>
        math.abs(lon - cx) <= 0.021 && math.abs(lat - cy) <= 0.021 } }
    assert(perCenter.forall(_ > 0), s"some hot centers never generated: $perCenter")
    assert(hits.size > 300, s"~10% of rows should be hot, got ${hits.size}/5000")
  }

  test("saltedCellJoin == plain join (row-identical)") {
    val c = SpatialOps.withTile(customers, "lon", "lat", 12)
      .select($"c_custkey", $"tile")
    val s = SpatialOps.withTile(SpatialOps.withDerivedPosition(
      spark.read.parquet(s"$sf/supplier.parquet").select("s_suppkey"), "s_suppkey"),
      "lon", "lat", 12).select($"s_suppkey", $"tile")
    val plain = c.join(s, "tile").select("tile", "c_custkey", "s_suppkey")
    val salted = SpatialOps.saltedCellJoin(c, s, "tile", "c_custkey", 4)
      .select("tile", "c_custkey", "s_suppkey")
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    assert(plain.count() > 0)
  }

  test("boxQuery refine=false is a superset (cell-coarse, reference parity mode)") {
    val box = BBox(-0.75, 51.0, 0.25, 52.0)
    val coarse = SpatialOps.boxQuery(customers, "lon", "lat", box, 20, refine = false)
    val exact = SpatialOps.boxQuery(customers, "lon", "lat", box, 20)
    assert(exact.exceptAll(coarse).isEmpty, "refined must be subset of coarse")
    assert(coarse.count() >= exact.count())
  }

  test("streamed window agg == batch group by") {
    val streamed = StreamOps.streamedWindowAgg(spark, s"$sf/events.parquet")
    val batch = spark.read.parquet(s"$sf/events.parquet")
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"),
           expr("CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)").as("sum_val"))
      .select($"w.start".as("ws"), $"event_type", $"n", $"sum_val")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    assert(batch.count() > 0)
  }

  test("watermarked append-mode window agg == batch windows closed by the final watermark") {
    val streamed = StreamOps.streamedWatermarkAgg(spark, s"$sf/events.parquet", "2 hours")
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val maxTs = ev.agg(max($"ts")).collect()(0).getAs[java.time.LocalDateTime](0)
    val cutoff = maxTs.minusHours(2)
    val batch = ev.groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"),
           expr("CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)").as("sum_val"))
      .where($"w.end" <= lit(cutoff))
      .select($"w.start".as("ws"), $"event_type", $"n", $"sum_val")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      s"streamed=${streamed.count()} batch=${batch.count()} cutoff=$cutoff")
    // and strictly fewer than the unfiltered windows (late tail still open)
    val all = ev.groupBy(window($"ts", "1 hour"), $"event_type").count().count()
    assert(streamed.count() < all, "no windows were held open by the watermark")
  }

  test("stateful sessionize: state carries across micro-batches (2 files == 1 file)") {
    val gapUs = 6L * 3600 * 1000000
    val events = spark.read.parquet(s"$sf/events.parquet").select($"user_id", $"ts")
    // split into two ts-ordered files so sessions straddle the batch boundary
    val dir = java.nio.file.Files.createTempDirectory("sess").toString
    val median = events.selectExpr(
      "percentile_approx(unix_micros(CAST(ts AS TIMESTAMP)), 0.5, 10000)").collect()(0).getLong(0)
    events.where(expr(s"unix_micros(CAST(ts AS TIMESTAMP)) < ${median}L")).coalesce(1)
      .write.parquet(s"$dir/in")
    Thread.sleep(1100) // distinct mod times => deterministic file order
    events.where(expr(s"unix_micros(CAST(ts AS TIMESTAMP)) >= ${median}L")).coalesce(1)
      .write.mode("append").parquet(s"$dir/in")
    val twoBatch = graft.engine.StreamOps.sessionize(spark, s"$dir/in", gapUs, maxFilesPerTrigger = 1)
      .toDF().select("user_id", "session_start", "session_end", "n")
    val oneBatch = graft.engine.StreamOps.sessionize(spark, s"$sf/events.parquet", gapUs)
      .toDF().select("user_id", "session_start", "session_end", "n")
    assert(twoBatch.count() > 0)
    assert(twoBatch.exceptAll(oneBatch).isEmpty && oneBatch.exceptAll(twoBatch).isEmpty,
      "state did not carry across batches")
  }

  test("boxQueryH3: anti-meridian box matches the geohash boxQuery row set") {
    val pts = SpatialOps.withDerivedPosition(
      spark.read.parquet("/root/testdata/sf0.01/customer.parquet").select("c_custkey"), "c_custkey")
    val am = graft.core.BBox(177.0, -50.0, -177.0, 50.0)
    val viaH3 = SpatialOps.boxQuery(pts, "lon", "lat", am, 5, index = CellIndex.H3U).select("c_custkey")
    val viaGh = SpatialOps.boxQuery(pts, "lon", "lat", am, 20).select("c_custkey")
    assert(viaH3.exceptAll(viaGh).isEmpty && viaGh.exceptAll(viaH3).isEmpty)
    assert(viaH3.count() > 0, "fixture should have rows near the anti-meridian")
  }

  test("boxQueryS2 == boxQuery, incl. anti-meridian (S2/geohash physical-path parity)") {
    val pts = customers
    val box = BBox(-0.75, 51.0, 0.25, 52.0)
    val viaS2 = SpatialOps.boxQuery(pts, "lon", "lat", box, 10, index = CellIndex.S2U).select("c_custkey")
    val viaGh = SpatialOps.boxQuery(pts, "lon", "lat", box, 20).select("c_custkey")
    assert(viaS2.exceptAll(viaGh).isEmpty && viaGh.exceptAll(viaS2).isEmpty)
    assert(viaS2.count() > 0)
    val am = graft.core.BBox(177.0, -50.0, -177.0, 50.0)
    val amS2 = SpatialOps.boxQuery(pts, "lon", "lat", am, 8, index = CellIndex.S2U).select("c_custkey")
    val amGh = SpatialOps.boxQuery(pts, "lon", "lat", am, 20).select("c_custkey")
    assert(amS2.exceptAll(amGh).isEmpty && amGh.exceptAll(amS2).isEmpty)
    assert(amS2.count() > 0, "fixture should have rows near the anti-meridian")
  }

  test("streamed S2 tile ingest: manifest parity with one-shot writeTiledS2 + prune props") {
    import graft.data.IcebergLite
    val dir = java.nio.file.Files.createTempDirectory("stream_s2").toString
    val events = spark.read.parquet(s"$sf/events.parquet").select($"event_id", $"user_id")
    val half = events.count() / 2
    events.where($"event_id" < half).coalesce(1).write.parquet(s"$dir/in")
    Thread.sleep(1100)
    events.where($"event_id" >= half).coalesce(1).write.mode("append").parquet(s"$dir/in")

    StreamOps.streamedTileIngest(spark, s"$dir/in", s"$dir/t",
      "user_id", 12, 7, maxFilesPerTrigger = 1, index = CellIndex.S2U)
    IcebergLite.writeTiled(
      SpatialOps.withDerivedPosition(events, "user_id"), s"$dir/batch",
      "lon", "lat", 12, 7, index = CellIndex.S2U)

    val sm = IcebergLite.readManifest(s"$dir/t").get
    val bm = IcebergLite.readManifest(s"$dir/batch").get
    assert(sm.snapshotId >= 1, "stream should have committed multiple snapshots")
    assert(IcebergLite.rowsByPartition(sm) == IcebergLite.rowsByPartition(bm))
    assert(IcebergLite.Tiling.of(sm) == IcebergLite.Tiling.of(bm))
    assert(IcebergLite.Tiling.of(sm).contains(IcebergLite.Tiling(CellIndex.S2U, 7, "lon", "lat")))
    val tbl = IcebergLite.read(spark, s"$dir/t")
    val q = tbl.where($"lon" >= -1.0 && $"lon" <= 1.0 && $"lat" >= 50.0 && $"lat" <= 53.0)
    val pf = q.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("tile_p#"), s"streamed S2 table not prune-aware: $pf")
  }

  test("streamed H3 tile ingest: manifest parity with one-shot writeTiledH3 + prune props") {
    import graft.data.IcebergLite
    val dir = java.nio.file.Files.createTempDirectory("stream_h3").toString
    val events = spark.read.parquet(s"$sf/events.parquet").select($"event_id", $"user_id")
    val half = events.count() / 2
    events.where($"event_id" < half).coalesce(1).write.parquet(s"$dir/in")
    Thread.sleep(1100)
    events.where($"event_id" >= half).coalesce(1).write.mode("append").parquet(s"$dir/in")

    StreamOps.streamedTileIngest(spark, s"$dir/in", s"$dir/t",
      "user_id", 6, 3, maxFilesPerTrigger = 1, index = CellIndex.H3U)
    IcebergLite.writeTiled(
      SpatialOps.withDerivedPosition(events, "user_id"), s"$dir/batch",
      "lon", "lat", 6, 3, index = CellIndex.H3U)

    val sm = IcebergLite.readManifest(s"$dir/t").get
    val bm = IcebergLite.readManifest(s"$dir/batch").get
    assert(sm.snapshotId >= 1, "stream should have committed multiple snapshots")
    assert(IcebergLite.rowsByPartition(sm) == IcebergLite.rowsByPartition(bm))
    // the batch write's tiling recorded → the streamed table is prune-aware
    assert(IcebergLite.Tiling.of(sm) == IcebergLite.Tiling.of(bm))
    assert(IcebergLite.Tiling.of(sm).contains(IcebergLite.Tiling(CellIndex.H3U, 3, "lon", "lat")))
    val tbl = IcebergLite.read(spark, s"$dir/t")
    val q = tbl.where($"lon" >= -1.0 && $"lon" <= 1.0 && $"lat" >= 50.0 && $"lat" <= 53.0)
    val pf = q.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("tile_p#"), s"streamed H3 table not prune-aware: $pf")
  }

  test("streamed tile ingest: final manifest state == one-shot batch write") {
    import graft.data.IcebergLite
    val dir = java.nio.file.Files.createTempDirectory("stream_tile").toString
    val events = spark.read.parquet(s"$sf/events.parquet").select($"event_id", $"user_id")
    // two ts-ordered files so the stream runs >1 micro-batch (extend path)
    val half = events.count() / 2
    events.where($"event_id" < half).coalesce(1).write.parquet(s"$dir/in")
    Thread.sleep(1100)
    events.where($"event_id" >= half).coalesce(1).write.mode("append").parquet(s"$dir/in")

    val streamed = StreamOps.streamedTileIngest(spark, s"$dir/in", s"$dir/t",
      "user_id", 20, 6, maxFilesPerTrigger = 1)

    // one-shot batch write of the same rows
    val tiled = SpatialOps.withTile(
        SpatialOps.withDerivedPosition(events, "user_id"), "lon", "lat", 20)
      .withColumn("tile_p", graft.sql.functions.gh_parent($"tile", 20, 6))
    IcebergLite.write(tiled, s"$dir/batch", "tile_p")

    val sm = IcebergLite.readManifest(s"$dir/t").get
    val bm = IcebergLite.readManifest(s"$dir/batch").get
    assert(sm.snapshotId >= 1, "stream should have committed multiple snapshots")
    // per-partition rows equal; per-partition cumulative checksums equal
    // (bit_xor accumulates across the stream's snapshots)
    assert(IcebergLite.rowsByPartition(sm) == IcebergLite.rowsByPartition(bm))
    def chk(m: IcebergLite.Manifest): Map[String, Long] =
      m.entries.groupBy(_.partition).map { case (p, es) =>
        p -> es.map(_.checksum).reduce(_ ^ _) }
    assert(chk(sm) == chk(bm), "cumulative checksums diverge from batch write")
    // and the returned per-tile counts equal the batch group-by
    val batchCounts = tiled.groupBy("tile").agg(count(lit(1)).as("n")).select("tile", "n")
    assert(streamed.exceptAll(batchCounts).isEmpty && batchCounts.exceptAll(streamed).isEmpty)
  }

  test("streamedNearDupCandidates: single batch == batch lshCandidates; state spans batches") {
    import spark.implicits._
    val docsPath = "/root/testdata/sf0.001/documents.parquet"
    val docs = spark.read.parquet(docsPath)
    // (a) ONE static batch: candidate set == the batch LSH candidate set
    val streamed = StreamOps.streamedNearDupCandidates(spark, docsPath, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    val batch = TextOps.lshCandidates(
        TextOps.shingleSet(docs, "doc_id", "text"), "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(streamed == batch, s"extra=${streamed -- batch} missing=${batch -- streamed}")
    assert(streamed.nonEmpty, "fixture should yield candidate pairs")
    // (b) TWO micro-batches: pairs whose members arrive in different
    // batches still surface (bucket state carries across batches)
    val dir = java.nio.file.Files.createTempDirectory("stream_neardup").toString
    val rows = docs.select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    b1.toSeq.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/in")
    Thread.sleep(1100)
    b2.toSeq.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(s"$dir/in")
    val twoBatch = StreamOps.streamedNearDupCandidates(spark, s"$dir/in", "doc_id", "text",
        maxFilesPerTrigger = 1)
      .as[(Long, Long)].collect().toSet
    assert(twoBatch == batch,
      s"2-batch run diverged: extra=${twoBatch -- batch} missing=${batch -- twoBatch}")
    val cut = b1.last._1
    assert(batch.exists { case (a, b) => a <= cut && b > cut },
      "fixture has no cross-batch pair; split point needs adjusting")
  }

  test("streamedNearDupCandidates: over-cap bucket is muted (boilerplate semantics)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream_neardup_cap").toString
    // cap+2 docs with IDENTICAL text: every band bucket overflows, so the
    // batch op excludes them and the stream must emit nothing either
    val n = TextOps.BandBucketCap + 2
    (1 to n).map(i => (i.toLong, "lorem ipsum dolor sit amet consectetur"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/in")
    val got = StreamOps.streamedNearDupCandidates(spark, s"$dir/in", "doc_id", "text")
    assert(got.isEmpty, "over-cap bucket must be excluded, matching BandBucketCap")
  }

  test("state TTL handlers: arm, refresh, expire, and re-emit (TestGroupState)") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    def state[S](opt: Option[S], timedOut: Boolean = false): TestGroupState[S] =
      TestGroupState.create[S](
        Optional.fromNullable(opt.getOrElse(null.asInstanceOf[S])),
        GroupStateTimeout.ProcessingTimeTimeout, 1000L,
        Optional.absent[Long](), timedOut)
    val ttl = "1 hour"
    // fresh fingerprint: emits min id and ARMS the TTL
    val s1 = state[Boolean](None)
    val out1 = StreamOps.dedupHandler(ttl)(7L, Iterator((10L, 7L), (12L, 7L)), s1).toSeq
    assert(out1.map(_.doc_id) == Seq(10L) && s1.exists)
    assert(s1.getTimeoutTimestampMs.isPresent, "TTL not armed on first sighting")
    // re-sighting: swallowed, TTL REFRESHED (hot dups never expire)
    val s2 = state[Boolean](Some(true))
    assert(StreamOps.dedupHandler(ttl)(7L, Iterator((99L, 7L)), s2).isEmpty)
    assert(s2.getTimeoutTimestampMs.isPresent, "TTL not refreshed on re-sighting")
    // expiry: state removed, nothing emitted — the NEXT sighting re-emits
    val s3 = state[Boolean](Some(true), timedOut = true)
    assert(StreamOps.dedupHandler(ttl)(7L, Iterator.empty, s3).isEmpty)
    assert(s3.isRemoved, "expired state must be dropped")
    val s4 = state[Boolean](None)
    val out4 = StreamOps.dedupHandler(ttl)(7L, Iterator((1L, 7L)), s4).toSeq
    assert(out4.map(_.doc_id) == Seq(1L), "post-expiry duplicate must re-emit")
    // near-dup bucket: members arm the TTL; a muted bucket keeps its TTL
    // (so it eventually expires instead of living forever); expiry drops it
    val b1 = state[StreamOps.BucketState](None)
    val pairs = StreamOps.nearDupHandler(50, ttl)(0L,
      Iterator((2L, 0L), (5L, 0L)), b1).toSeq
    assert(pairs == Seq(StreamOps.NearDupCand(2L, 5L)))
    assert(b1.getTimeoutTimestampMs.isPresent)
    val b2 = state[StreamOps.BucketState](Some(StreamOps.BucketState(alive = false, Nil)))
    assert(StreamOps.nearDupHandler(50, ttl)(0L, Iterator((9L, 0L)), b2).isEmpty)
    assert(b2.getTimeoutTimestampMs.isPresent, "muted bucket must still expire")
    val b3 = state[StreamOps.BucketState](
      Some(StreamOps.BucketState(alive = true, List(2L, 5L))), timedOut = true)
    assert(StreamOps.nearDupHandler(50, ttl)(0L, Iterator.empty, b3).isEmpty)
    assert(b3.isRemoved)
    // and with NO ttl, no timeout is ever armed (NoTimeout contract)
    val s5 = TestGroupState.create[Boolean](Optional.absent[Boolean](),
      GroupStateTimeout.NoTimeout, 1000L, Optional.absent[Long](), false)
    assert(StreamOps.dedupHandler("")(7L, Iterator((3L, 7L)), s5).nonEmpty)
    assert(!s5.getTimeoutTimestampMs.isPresent)

    // a doc id RE-ARRIVING in a later micro-batch is not a new member
    // (ADVICE r5): no self-pair, no duplicate member, no cap inflation —
    // only the genuinely new id pairs against the stored members
    val b4 = state[StreamOps.BucketState](
      Some(StreamOps.BucketState(alive = true, List(2L, 5L))))
    val rePairs = StreamOps.nearDupHandler(50, ttl)(0L,
      Iterator((2L, 0L), (7L, 0L)), b4).toSeq
    assert(rePairs.toSet == Set(StreamOps.NearDupCand(2L, 7L), StreamOps.NearDupCand(5L, 7L)),
      s"re-arrival must not self-pair or re-pair: $rePairs")
    assert(b4.get.members == List(2L, 5L, 7L), b4.get.members.toString)
  }

  test("streamedDedup: first batch wins per fingerprint, later duplicates swallowed") {
    val dir = java.nio.file.Files.createTempDirectory("stream_dedup").toString
    import spark.implicits._
    // batch 1: ids 10, 11 with texts A, B; batch 2: ids 1 (A again — dup
    // of an ALREADY-SEEN fp with a SMALLER id) and 12 (new text C)
    Seq((10L, "alpha beta gamma"), (11L, "delta epsilon"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/in")
    Thread.sleep(1100)
    Seq((1L, "alpha beta gamma"), (12L, "zeta eta theta"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(s"$dir/in")
    val out = StreamOps.streamedDedup(spark, s"$dir/in", "doc_id", "text",
        maxFilesPerTrigger = 1)
      .collect().map(r => r.getAs[Long]("fp") -> r.getAs[Long]("doc_id")).toMap
    assert(out.size == 3, s"expected 3 distinct fingerprints, got $out")
    // the duplicate text keeps the FIRST batch's id (10), not the later 1
    assert(out.values.toSet == Set(10L, 11L, 12L), out.toString)
    // and over a single static batch the result equals the batch group-by
    val single = StreamOps.streamedDedup(spark, s"$dir/in", "doc_id", "text")
      .select("fp", "doc_id")
    val batch = graft.engine.TextOps.fingerprint(
        spark.read.parquet(s"$dir/in"), "doc_id", "text")
      .groupBy("fp").agg(min("doc_id").as("doc_id")).select("fp", "doc_id")
    assert(single.exceptAll(batch).isEmpty && batch.exceptAll(single).isEmpty)
  }

  test("streamed ingest auto-compaction: snapshots stay bounded, content identical, prune fires") {
    import graft.data.IcebergLite
    val dir = java.nio.file.Files.createTempDirectory("stream_compact").toString
    val events = spark.read.parquet(s"$sf/events.parquet").select($"event_id", $"user_id")
    val n = events.count()
    // 12 input files -> 12 micro-batches at maxFilesPerTrigger = 1
    (0 until 12).foreach { i =>
      events.where($"event_id" % 12 === i).coalesce(1)
        .write.mode("append").parquet(s"$dir/in")
    }
    val streamed = StreamOps.streamedTileIngest(spark, s"$dir/in", s"$dir/t",
      "user_id", 20, 6, maxFilesPerTrigger = 1, autoCompactEvery = 4)

    val m = IcebergLite.readManifest(s"$dir/t").get
    // the manifest must never reference more than the threshold's worth of
    // snapshots (compact folds them whenever the count reaches 4)
    val live = m.entries.map(_.snapshotId).distinct
    assert(live.size <= 4, s"manifest references ${live.size} snapshots: $live")
    assert(m.properties.get(IcebergLite.PropAutoCompact).contains("4"))
    // expire really dropped the superseded snapshot dirs on disk
    val dataDirs = scala.util.Using.resource(
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/t", "data"))) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("snapid=")).toSeq
    }
    assert(dataDirs.size <= 4, s"data dir still holds ${dataDirs.size} snapshots")
    // content identical to the one-shot batch write
    val tiled = SpatialOps.withTile(
        SpatialOps.withDerivedPosition(events, "user_id"), "lon", "lat", 20)
      .withColumn("tile_p", graft.sql.functions.gh_parent($"tile", 20, 6))
    val batchCounts = tiled.groupBy("tile").agg(count(lit(1)).as("n")).select("tile", "n")
    assert(streamed.exceptAll(batchCounts).isEmpty && batchCounts.exceptAll(streamed).isEmpty)
    assert(IcebergLite.read(spark, s"$dir/t").count() == n)
    // covering prune still fires on the compacted table
    val q = IcebergLite.read(spark, s"$dir/t")
      .where($"lon" >= -1.0 && $"lon" <= 1.0 && $"lat" >= 50.0 && $"lat" <= 53.0)
    val pf = q.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("tile_p#"), s"compacted streamed table not prune-aware: $pf")
  }

  test("toGrid: dense grid covers the box, counts match brute force, empties are 0") {
    val box = BBox(-10.0, 40.0, 10.0, 55.0)
    val grid = SpatialOps.toGrid(customers, "lon", "lat", box, 14).collect()
    val (_, cx, cy) = graft.core.Geohash.gridProperties(
      box.minLon, box.minLat, box.maxLon, box.maxLat, 14)
    assert(grid.length == cx * cy, "grid must be dense (every lattice cell present)")
    val byTile = grid.map(r => r.getLong(2) -> r.getLong(3)).toMap
    val brute = customers.collect().map(r => (r.getDouble(1), r.getDouble(2)))
      .map { case (lon, lat) => graft.core.Geohash.encode(lon, lat, 14) }
      .groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    byTile.foreach { case (t, n) => assert(brute.getOrElse(t, 0L) == n, s"tile $t") }
    assert(grid.exists(_.getLong(3) == 0L), "expected some empty cells")
    assert(grid.exists(_.getLong(3) > 0L), "expected some occupied cells")
  }

  test("explain: box query pushes tile equi-join to broadcast hash join, no shuffle of big side") {
    val box = BBox(-0.75, 51.0, 0.25, 52.0)
    // one Filter tests the point's cell against the covering's InSet (a
    // ParamInSet once graft.sql.ParamLiterals swaps it), so nothing is
    // joined or exchanged
    Seq(CellIndex.Geohash -> 20, CellIndex.H3U -> 7, CellIndex.S2U -> 10).foreach { case (index, level) =>
      val executed = SpatialOps.boxQuery(customers, "lon", "lat", box, level, index = index)
        .queryExecution.executedPlan
      val plan = executed.toString
      val cellSets = executed.collect { case f: FilterExec => f.condition }.flatMap(_.collect {
        case ParamInSet(InSet(cell, _)) => cell
        case InSet(cell, _) => cell
      })
      assert(cellSets.exists(c => index.cellArgs(c).exists(_._3 == level)), s"$index: $plan")
      assert(!plan.contains("Join") && !plan.contains("Exchange"), s"$index: $plan")
    }
  }
}

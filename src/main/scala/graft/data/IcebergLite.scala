package graft.data

import java.nio.file.{Files, NoSuchFileException, Paths, StandardCopyOption}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructType}

import graft.sql.CellIndex

/** Iceberg-STYLE table layout (no Iceberg jar exists in this sandbox —
  * SURVEY.md §8 M3): partitioned Parquet + a snapshot manifest chain with
  * per-partition row counts and content checksums. Gives the pieces the
  * north_rule asks for without the dependency:
  *
  *  - ONE commit: [[write]], [[update]], [[extend]] and [[compact]] choose
  *    the prior entries to keep and the partitions to write; `commit` writes
  *    them as the next snapshot, with the table schema, under the table's
  *    own partition column (another one is rejected before any write);
  *  - FILE-LEVEL appends: every snapshot writes its data files under its own
  *    `data/snapid=<id>/` directory, so `extend` ADDS files and never
  *    rewrites an existing partition (at 100 TB an append that re-reads and
  *    rewrites a whole partition is a non-starter). A partition's content is
  *    the union of all committed (snapshot, partition) pairs;
  *  - snapshot-isolated reads: readers build the visible (snapshot,
  *    partition) set from the last committed manifest, so files from a
  *    crashed or in-flight write are invisible, and an older manifest still
  *    describes a fully consistent older table (time travel);
  *  - resumable writes: a restarted job diffs the manifest against its input
  *    partitions and (re)writes only the missing ones, using dynamic
  *    partition overwrite inside its own snapshot dir so a partially-written
  *    partition is replaced, not doubled;
  *  - per-partition lineage + metrics: every snapshot records
  *    (partition, rows, checksum, snapshot that introduced it);
  *  - a tiled table records its layout ([[Tiling]]) in the manifest
  *    header, where the [[graft.sql.DeriveCoveringPrune]] rule reads it to
  *    rewrite a bare box / point-in-polygon filter into a partition-prefix
  *    IN-list, and the indexed kNNs and compaction read it too;
  *  - the table's compaction policy ([[PropAutoCompact]]) is applied by
  *    [[extend]].
  *
  * Only this object knows the directory layout; [[snapshotAt]] maps a load
  * path back to its table.
  *
  * Checksums are order-independent (bit_xor of xxhash64 over all columns), so
  * they are stable across parallelism levels; a partition touched by several
  * snapshots has one manifest entry per snapshot and its cumulative checksum
  * is the XOR of the entries (bit_xor is associative).
  *
  * The `snapid` directory column name is reserved; user schemas must not
  * contain it.
  */
object IcebergLite {
  final case class PartitionEntry(partition: String, rows: Long, checksum: Long, snapshotId: Long)
  /** `schema` is what a read of the snapshot returns; it lets a snapshot
    * with no entries load as a typed empty table. */
  final case class Manifest(snapshotId: Long, parentSnapshotId: Long,
                            partitionCol: String, properties: Map[String, String],
                            entries: Seq[PartitionEntry], schema: StructType)

  /** A tiled table's layout: each row's [[Tiling.TileCol]] is its `index`
    * cell of (`lonCol`, `latCol`), and the partition column
    * [[Tiling.PrefixCol]] that cell's ancestor at `prefixLevel`. Recorded
    * as four table properties, which only [[properties]] writes and only
    * [[Tiling.of]] reads. */
  final case class Tiling(index: CellIndex, prefixLevel: Int, lonCol: String, latCol: String) {
    /** The table properties that record this tiling. */
    def properties: Map[String, String] =
      Map(Tiling.PropPrefixBits -> prefixLevel.toString, Tiling.PropLonCol -> lonCol,
        Tiling.PropLatCol -> latCol, Tiling.PropIndexType -> index.tag)

    /** `df` with the tile column (the cell of lon/lat at `tileLevel`) and
      * the prefix column (its ancestor at [[prefixLevel]]). */
    def assign(df: DataFrame, tileLevel: Int): DataFrame =
      df.withColumn(Tiling.TileCol, index.cell(col(lonCol), col(latCol), tileLevel))
        .withColumn(Tiling.PrefixCol, index.parent(col(Tiling.TileCol), tileLevel, prefixLevel))
  }

  object Tiling {
    val TileCol = "tile"
    val PrefixCol = "tile_p"
    val PropPrefixBits = "tile.prefix.bits"
    val PropLonCol = "tile.lon.col"
    val PropLatCol = "tile.lat.col"
    /** The [[CellIndex.tag]] of the table's cell index. */
    val PropIndexType = "tile.index"

    /** The tiling `m` records: None unless all four properties are present
      * and the index tag is one this engine knows (another index's cells
      * are not ours to cover). */
    def of(m: Manifest): Option[Tiling] = for {
      bits <- m.properties.get(PropPrefixBits)
      lon <- m.properties.get(PropLonCol)
      lat <- m.properties.get(PropLatCol)
      tag <- m.properties.get(PropIndexType)
      index <- Seq(CellIndex.Geohash, CellIndex.H3U, CellIndex.S2U).find(_.tag == tag)
    } yield Tiling(index, bits.toInt, lon, lat)
  }

  /** The table's compaction policy: an [[extend]] whose manifest
    * references this many distinct snapshots runs [[compact]] and then
    * [[expireSnapshots]] (a long-lived stream must not grow one snapshot
    * dir per micro-batch forever). Absent/0 = manual only. */
  val PropAutoCompact = "compact.auto.snapshots"

  private def manifestDir(table: String) = Paths.get(table, "_manifests")
  private def currentPtr(table: String) = Paths.get(table, "_manifests", "CURRENT")

  def readManifest(table: String): Option[Manifest] =
    snapshotStamp(table).flatMap(s => readSnapshot(table, s.id))

  /** Any committed snapshot by id (time travel). */
  def readSnapshot(table: String, snap: Long): Option[Manifest] = {
    val p = manifestDir(table).resolve(s"snap-$snap.tsv")
    if (!Files.exists(p)) return None
    val lines = Files.readAllLines(p).asScala.toSeq
    val header = lines.head.split("\t", -1) // id parentId partitionCol props schema
    // the schema has its own field: its JSON may hold the ';' and '='
    // that separate properties
    if (header.length < 5 || header(4).isEmpty) throw new IllegalStateException(
      s"table $table snapshot $snap records no schema")
    val props =
      if (header(3).isEmpty) Map.empty[String, String]
      else header(3).split(";").map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v
      }.toMap
    val entries = lines.tail.map { l =>
      val f = l.split("\t")
      PartitionEntry(f(0), f(1).toLong, f(2).toLong, f(3).toLong)
    }
    Some(Manifest(header(0).toLong, header(1).toLong, header(2), props, entries,
      DataType.fromJson(header(4)).asInstanceOf[StructType]))
  }

  private def commitManifest(table: String, m: Manifest): Unit = {
    Files.createDirectories(manifestDir(table))
    val props = m.properties.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(";")
    val body = (s"${m.snapshotId}\t${m.parentSnapshotId}\t${m.partitionCol}\t$props\t${m.schema.json}" +:
      m.entries.sortBy(e => (e.partition, e.snapshotId))
        .map(e => s"${e.partition}\t${e.rows}\t${e.checksum}\t${e.snapshotId}"))
      .mkString("\n")
    val tmp = manifestDir(table).resolve(s".snap-${m.snapshotId}.tsv.tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, manifestDir(table).resolve(s"snap-${m.snapshotId}.tsv"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    val ptrTmp = manifestDir(table).resolve(".CURRENT.tmp")
    Files.writeString(ptrTmp, m.snapshotId.toString)
    Files.move(ptrTmp, currentPtr(table),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING) // atomic commit
  }

  /** Per-partition (rows, checksum) of a DataFrame. Collects ONE row per
    * partition to the driver — bounded by partition count, guarded. */
  private def stats(df: DataFrame, partitionCol: String): Map[String, (Long, Long)] = {
    val dataCols = df.columns.filter(_ != partitionCol).map(col).toSeq
    val rows = df.groupBy(col(partitionCol).cast("string"))
      .agg(count(lit(1)).as("rows"), bit_xor(xxhash64(dataCols: _*)).as("chk"))
      .collect()
    require(rows.length <= (1 << 20),
      s"${rows.length} partitions exceed the manifest guard (2^20); use a coarser prefix")
    rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  /** The schema a read of `df`'s table returns: data columns, then the
    * partition column (a parquet read puts directory columns last). */
  private def tableSchema(df: DataFrame, partitionCol: String): StructType = {
    val (part, data) = df.schema.fields.partition(_.name == partitionCol)
    StructType((data ++ part).map(_.copy(nullable = true)))
  }

  private def dataDir(table: String) = s"$table/data"
  private def snapDir(table: String, snapshotId: Long) = s"${dataDir(table)}/snapid=$snapshotId"

  /** The one snapshot commit: writes `df`'s `partitions` as the snapshot
    * after `prior`, whose manifest holds the `kept` entries plus one entry
    * per written partition. Zero partitions commit entries and properties
    * only (e.g. the empty first snapshot of an empty DataFrame's table). */
  private def commit(table: String, prior: Option[Manifest], df: DataFrame,
                     partitionCol: String, stats: Map[String, (Long, Long)],
                     partitions: Seq[String], kept: Seq[PartitionEntry],
                     properties: Map[String, String]): Manifest = {
    prior.foreach(p => require(p.partitionCol == partitionCol,
      s"table $table is partitioned by ${p.partitionCol}, not $partitionCol"))
    val snapshotId = prior.fold(0L)(_.snapshotId + 1)
    // dynamic overwrite INSIDE the new snapshot dir: a re-attempt after a
    // crash (same snapshot id) replaces its own partial files and never
    // touches a committed snapshot's files. Per-write option, not a session
    // conf mutation — the session's overwrite semantics outside IcebergLite
    // must stay whatever the user set.
    if (partitions.nonEmpty)
      df.where(col(partitionCol).cast("string").isin(partitions: _*))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionCol)
        .parquet(snapDir(table, snapshotId))
    val m = Manifest(snapshotId, prior.fold(-1L)(_.snapshotId), partitionCol,
      prior.fold(Map.empty[String, String])(_.properties) ++ properties,
      kept ++ partitions.map(p => PartitionEntry(p, stats(p)._1, stats(p)._2, snapshotId)),
      tableSchema(df, partitionCol))
    commitManifest(table, m)
    m
  }

  /** The committed manifest that `op` builds on. */
  private def committed(table: String, op: String): Manifest =
    readManifest(table).getOrElse(throw new IllegalStateException(s"$op on uninitialized table $table"))

  /** Write (or resume writing) `df` partitioned by `partitionCol`.
    * Returns the committed manifest. Idempotent: rerunning after any crash
    * converges to the same committed state. `failAfterPartitions` injects a
    * crash for the resume test (kills the job after K partitions committed).
    * `properties` become table properties in the manifest header (see
    * [[writeTiled]] for the tile-aware convenience form); new properties
    * commit even when no partition is left to write. */
  def write(df: DataFrame, table: String, partitionCol: String,
            failAfterPartitions: Int = Int.MaxValue,
            properties: Map[String, String] = Map.empty): Manifest = {
    val prior = readManifest(table)
    val done = prior.fold(Set.empty[String])(_.entries.map(_.partition).toSet)
    val all = stats(df, partitionCol)
    val todo = all.keys.filterNot(done).toSeq.sorted
    val partitions = todo.take(failAfterPartitions)
    if (partitions.isEmpty && prior.exists(p => p.properties ++ properties == p.properties))
      return prior.get
    val m = commit(table, prior, df, partitionCol, all, partitions,
      prior.fold(Seq.empty[PartitionEntry])(_.entries), properties)
    if (partitions.size < todo.size) throw new RuntimeException(
      s"[injected] crashed after $failAfterPartitions partitions (snapshot ${m.snapshotId} committed)")
    m
  }

  /** Tile-aware write: assigns the [[Tiling]]'s tile and prefix columns
    * from lon/lat and records the tiling as table properties. Rows are
    * tile-sorted WITHIN each task before writing (no repartition — a hot
    * prefix must not collapse into one task): locally clustered
    * tile/lon/lat values give every parquet row group tight min/max stats,
    * so refine predicates skip row groups inside the surviving partitions
    * — a second pruning level under the partition IN-list. XOR checksums
    * are order-insensitive, so manifests are unaffected. */
  def writeTiled(df: DataFrame, table: String, lonCol: String, latCol: String,
                 tileLevel: Int, prefixLevel: Int,
                 index: CellIndex = CellIndex.Geohash): Manifest = {
    val tiling = Tiling(index, prefixLevel, lonCol, latCol)
    write(tiling.assign(df, tileLevel).sortWithinPartitions(Tiling.PrefixCol, Tiling.TileCol),
      table, Tiling.PrefixCol, properties = tiling.properties)
  }

  /** [[writeTiled]] on the Uber-H3-compatible index. */
  def writeTiledH3(df: DataFrame, table: String, lonCol: String, latCol: String,
                   tileRes: Int, prefixRes: Int): Manifest =
    writeTiled(df, table, lonCol, latCol, tileRes, prefixRes, CellIndex.H3U)

  /** [[writeTiled]] on the published-layout S2 index. */
  def writeTiledS2(df: DataFrame, table: String, lonCol: String, latCol: String,
                   tileLevel: Int, prefixLevel: Int): Manifest =
    writeTiled(df, table, lonCol, latCol, tileLevel, prefixLevel, CellIndex.S2U)

  /** Reference `GeoHash.update` (SURVEY.md §3.2 #16): REPLACE the contents
    * of every partition present in `df` (other partitions untouched), as a
    * new snapshot. Old files are not deleted — they stay reachable through
    * the parent manifest (snapshot isolation) and merely invisible here. */
  def update(df: DataFrame, table: String, partitionCol: String): Manifest = {
    val prior = committed(table, "update")
    val incoming = stats(df, partitionCol)
    commit(table, Some(prior), df, partitionCol, incoming, incoming.keys.toSeq.sorted,
      prior.entries.filterNot(e => incoming.contains(e.partition)), Map.empty)
  }

  /** Reference `GeoHash.extend` (#17): APPEND rows to their partitions.
    * FILE-LEVEL: the batch lands as new files under the new snapshot's own
    * directory and the manifest gains one entry per touched partition; no
    * existing file is read or rewritten, which is the only append shape that
    * works at 100 TB. On a table recording [[PropAutoCompact]], an append
    * that makes the manifest reference that many snapshots is followed by
    * [[compact]] and [[expireSnapshots]], and the compacted manifest is
    * returned. */
  def extend(df: DataFrame, table: String, partitionCol: String): Manifest = {
    val prior = committed(table, "extend")
    val incoming = stats(df, partitionCol)
    val m = commit(table, Some(prior), df, partitionCol, incoming, incoming.keys.toSeq.sorted,
      prior.entries, Map.empty)
    val every = m.properties.get(PropAutoCompact).fold(0)(_.toInt)
    if (every <= 0 || m.entries.map(_.snapshotId).distinct.size < every) m
    else {
      // not through the session's snapshot slot: `df`'s session may be a
      // stream's short-lived clone, which would keep its slot until the
      // context stops
      val compacted = rewrite(table, m, load(df.sparkSession, table, m))
      expireSnapshots(table)
      compacted
    }
  }

  /** Read through a manifest: only committed (snapshot, partition) pairs are
    * visible. Visibility is enforced by LISTING exactly the visible
    * `data/snapid=<sid>/<partitionCol>=<value>` directories as the load
    * paths — no predicate at all, so the plan stays CONSTANT-SIZE no matter
    * how many micro-batch snapshots a long-lived stream has committed
    * (an OR-per-snapshot predicate grew O(#batches) and was re-walked by
    * every optimizer pass). basePath keeps snapid + the partition column
    * recoverable as partition columns; uncommitted / superseded / in-flight
    * snapshot dirs are simply never listed.
    *
    * The current snapshot is resolved ONCE per session ([[current]]): the
    * returned DataFrame already holds the listed files and the inferred
    * schema, so a repeat read of an unchanged table starts no Spark job
    * (listing more than 32 directories is a parallel job, and schema
    * inference is another). Any commit — [[write]], [[extend]], [[update]],
    * [[compact]] — changes the snapshot CURRENT points at, and the next
    * read resolves the new one. Time travel (`asOfSnapshot >= 0`) resolves
    * the requested snapshot afresh on every call: the cache holds only the
    * current snapshot of each table, never a history. */
  def read(spark: SparkSession, table: String, asOfSnapshot: Long = -1L): DataFrame =
    if (asOfSnapshot < 0) current(spark, table).df
    else load(spark, table, readSnapshot(table, asOfSnapshot)
      .getOrElse(throw new IllegalStateException(s"no committed snapshot at $table")))

  private def load(spark: SparkSession, table: String, m: Manifest): DataFrame = {
    if (m.entries.isEmpty)
      return spark.createDataFrame(java.util.Collections.emptyList[Row](), m.schema)
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName _
    val dirs = m.entries.map(e =>
      s"${snapDir(table, e.snapshotId)}/${esc(m.partitionCol)}=${esc(e.partition)}")
      .distinct
    // the recorded schema types the partition column as written: inferred
    // from directory names, a bigint prefix whose values fit an int reads
    // back as int. It also spares the footer read that infers the rest.
    spark.read.option("basePath", dataDir(table))
      .schema(m.schema.add("snapid", LongType))
      .parquet(dirs: _*).drop("snapid")
  }

  /** The current snapshot of the table that `path` belongs to: a load path
    * of [[load]] (`<table>/data/snapid=<s>/<part>=<v>`) or a `<table>/data`
    * root (a direct parquet load of the whole layout). */
  def snapshotAt(spark: SparkSession, path: String): Option[Snapshot] = {
    val i = path.indexOf("/data/snapid=")
    val table = if (i >= 0) Some(path.substring(0, i))
      else Some(path.stripSuffix("/data")).filter(_ != path)
    table.flatMap(currentOption(spark, _))
  }

  /** The snapshot CURRENT points at, as one session sees it: its manifest
    * and the DataFrame over its visible files (resolved on first use, then
    * reused). Taking both from one Snapshot pins a query to one snapshot
    * even if a commit lands while it runs. */
  final class Snapshot private[IcebergLite] (private[IcebergLite] val stamp: Stamp,
                                             val manifest: Manifest, resolve: () => DataFrame) {
    lazy val df: DataFrame = resolve()
    /** The tiling the manifest records, parsed once per snapshot. */
    lazy val tiling: Option[Tiling] = Tiling.of(manifest)
  }

  /** [[current]], or None when the table has no committed snapshot. */
  def currentOption(spark: SparkSession, table: String): Option[Snapshot] = {
    val key = (spark, Paths.get(table).toAbsolutePath.normalize.toString)
    snapshotStamp(table).map { stamp =>
      val slots = slotsOf(spark.sparkContext)
      val hit = slots.get(key)
      if (hit != null && hit.stamp == stamp) hit
      else {
        val m = readSnapshot(table, stamp.id)
          .getOrElse(throw new IllegalStateException(s"snapshot ${stamp.id} of $table vanished"))
        val snap = new Snapshot(stamp, m, () => load(spark, table, m))
        slots.put(key, snap)
        snap
      }
    }
  }

  /** The current snapshot of `table`, resolved once per (session, table). */
  def current(spark: SparkSession, table: String): Snapshot =
    currentOption(spark, table)
      .getOrElse(throw new IllegalStateException(s"no committed snapshot at $table"))

  /** What identifies a committed snapshot on disk: the id in CURRENT plus
    * its manifest file's mtime and size. A commit moves CURRENT to a new
    * id; a table deleted and re-created at the same path rewrites the
    * manifest file, so a reused id still gets a new stamp. */
  private[IcebergLite] final case class Stamp(id: Long, mtime: FileTime, size: Long)

  private def snapshotStamp(table: String): Option[Stamp] =
    try {
      val id = Files.readString(currentPtr(table)).trim.toLong
      val a = Files.readAttributes(manifestDir(table).resolve(s"snap-$id.tsv"),
        classOf[BasicFileAttributes])
      Some(Stamp(id, a.lastModifiedTime, a.size))
    } catch { case _: NoSuchFileException => None }

  // one slot per (session, table), replaced on every new snapshot, so the
  // cache is bounded by the number of tables a session has read. A hit is
  // exact: a committed snapshot's files are immutable and are not expired
  // while it is current. Slots hold DataFrames, which hold their session,
  // so a context's slots are dropped when it stops (one listener per
  // context, installed with its map).
  private val slotsByContext =
    new ConcurrentHashMap[SparkContext, ConcurrentHashMap[(SparkSession, String), Snapshot]]()

  private def slotsOf(sc: SparkContext) = {
    val slots = slotsByContext.computeIfAbsent(sc, _ => {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          slotsByContext.remove(sc)
      })
      new ConcurrentHashMap[(SparkSession, String), Snapshot]()
    })
    // a context that stopped before its listener was installed never
    // delivers the end event
    if (sc.isStopped) slotsByContext.remove(sc)
    slots
  }

  /** Number of cached slots held for a context (0 once it has stopped). */
  private[data] def slotCount(sc: SparkContext): Int =
    Option(slotsByContext.get(sc)).map(_.size).getOrElse(0)

  /** Compact: rewrite the table's visible content as ONE new snapshot (one
    * entry and one file set per partition). Streaming ingest creates a
    * snapshot per micro-batch; unbounded manifests and small files are the
    * classic cost, and compaction is the standard rewrite-by-design answer.
    * Old snapshots stay readable until [[expireSnapshots]]. */
  def compact(spark: SparkSession, table: String): Manifest = {
    // manifest and content from ONE snapshot, whose file listing the
    // session may already hold (see current)
    val snap = current(spark, table)
    rewrite(table, snap.manifest, snap.df)
  }

  /** Commits `content`, the visible content of snapshot `prior`, as one
    * new snapshot that keeps none of `prior`'s entries. */
  private def rewrite(table: String, prior: Manifest, content: DataFrame): Manifest = {
    // materialize before writing: the new snapshot dir is separate, but the
    // plan must not lazily re-list data/ mid-write
    val current0 = content.localCheckpoint(true)
    // restore tile clustering lost to micro-batch appends: tiled tables get
    // tight per-row-group min/max stats back after compaction (see
    // writeTiled; XOR checksums are order-insensitive)
    val current =
      if (Tiling.of(prior).isDefined)
        current0.sortWithinPartitions(col(prior.partitionCol), col(Tiling.TileCol))
      else current0
    val incoming = stats(current, prior.partitionCol)
    commit(table, Some(prior), current, prior.partitionCol, incoming, incoming.keys.toSeq.sorted,
      Nil, Map.empty)
  }

  /** Delete data directories of snapshots no longer referenced by the
    * CURRENT manifest (e.g. everything superseded by a [[compact]] or
    * [[update]]). Time travel to expired snapshots stops working; the
    * current snapshot is untouched. Returns the deleted snapshot ids. */
  def expireSnapshots(table: String): Seq[Long] = {
    val m = readManifest(table).getOrElse(return Nil)
    val live = m.entries.map(_.snapshotId).toSet
    val data = Paths.get(dataDir(table))
    if (!Files.exists(data)) return Nil
    val victims = scala.util.Using.resource(Files.list(data)) { s =>
      s.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("snapid="))
        .map(p => (p, p.getFileName.toString.stripPrefix("snapid=").toLong))
        .filterNot { case (_, sid) => live(sid) }
        .toSeq
    }
    victims.foreach { case (dir, _) =>
      scala.util.Using.resource(Files.walk(dir)) { s =>
        s.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.delete)
      }
    }
    victims.map(_._2).sorted
  }

  /** Total committed rows per partition (summing across snapshots). */
  def rowsByPartition(m: Manifest): Map[String, Long] =
    m.entries.groupBy(_.partition).map { case (p, es) => p -> es.map(_.rows).sum }

  /** Per-tile metrics/lineage emission (north_rule): one JSON line per
    * manifest entry with rows, checksum and introducing snapshot. */
  def lineageJson(table: String): Seq[String] = {
    val m = readManifest(table).getOrElse(return Nil)
    m.entries.sortBy(e => (e.partition, e.snapshotId)).map(e =>
      s"""{"table":"$table","partition":"${e.partition}","rows":${e.rows},"checksum":${e.checksum},"snapshot":${e.snapshotId}}""")
  }
}

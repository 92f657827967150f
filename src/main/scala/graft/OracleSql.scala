package graft

/** Emits ANSI-ish SQL (runnable by both DuckDB 1.0 and Spark SQL) that
  * reproduces the engine's geohash math exactly: the Morton interleave is
  * written out as the same shift/mask chain [[graft.core.Morton]] uses, over
  * BIGINT, so the DuckDB oracle computes bit-identical tile keys. Positions
  * for the driver's relational tables are *derived* deterministically from
  * integer keys (BASELINE.json input_hint: lat/lon are not columns), with
  * 10% of rows planted in 3 hot-spot clusters so skew paths are exercised —
  * the same formula text is evaluated by Spark (via `expr`) and DuckDB.
  */
object OracleSql {

  /** Deterministic longitude for an integer key column/expression.
    * 90% uniform in [-180, 180); keys ≡ 0 (mod 10) cluster around one of
    * 3 hot centers (London, Tokyo, São Paulo) ±0.1°. */
  def lonSql(key: String): String =
    s"""CASE WHEN (($key) % 10) = 0 THEN
       |  (CASE WHEN (($key) % 3) = 0 THEN -0.1 WHEN (($key) % 3) = 1 THEN 139.7 ELSE -46.6 END)
       |  + (CAST((($key) * 13) % 200 AS DOUBLE) / 1000.0 - 0.1)
       |ELSE CAST((($key) * 9973) % 36000 AS DOUBLE) / 100.0 - 180.0 END""".stripMargin.replace("\n", " ")

  /** Deterministic latitude, uniform in [-84, 84) / hot-spot clustered. */
  def latSql(key: String): String =
    s"""CASE WHEN (($key) % 10) = 0 THEN
       |  (CASE WHEN (($key) % 3) = 0 THEN 51.5 WHEN (($key) % 3) = 1 THEN 35.7 ELSE -23.5 END)
       |  + (CAST((($key) * 17) % 200 AS DOUBLE) / 1000.0 - 0.1)
       |ELSE CAST((($key) * 7919) % 16800 AS DOUBLE) / 100.0 - 84.0 END""".stripMargin.replace("\n", " ")

  /** 30-bit quantized indices (no clamping: derived coords stay in range). */
  def lonIdx30Sql(lon: String): String =
    s"CAST(floor((($lon) + 180.0) / 360.0 * 1073741824.0) AS BIGINT)"
  def latIdx30Sql(lat: String): String =
    s"CAST(floor((($lat) + 90.0) / 180.0 * 1073741824.0) AS BIGINT)"

  /** Morton spread: the exact shift/mask chain of [[graft.core.Morton.spread]].
    * `x` should be a simple column reference (it is repeated 32×). */
  def spreadSql(x: String): String =
    Seq(16 -> "281470681808895",        // 0x0000FFFF0000FFFF
        8  -> "71777214294589695",      // 0x00FF00FF00FF00FF
        4  -> "1085102592571150095",    // 0x0F0F0F0F0F0F0F0F
        2  -> "3689348814741910323",    // 0x3333333333333333
        1  -> "6148914691236517205")    // 0x5555555555555555
      .foldLeft(s"(($x) & 1073741823)") { case (e, (s, m)) => s"((($e) | (($e) << $s)) & $m)" }

  /** tile = interleave(gx, gy) >> (60 - bits); gx/gy must be plain columns. */
  def tileSql(gx: String, gy: String, bits: Int): String =
    s"(((${spreadSql(gx)} << 1) | ${spreadSql(gy)}) >> ${60 - bits})"

  /** CTE that appends _gx/_gy index columns for a key-derived position. */
  def withIdxCte(table: String, key: String): String =
    s"""WITH _pts AS (SELECT *, ${lonSql(key)} AS _lon, ${latSql(key)} AS _lat FROM $table),
       |_idx AS (SELECT *, ${lonIdx30Sql("_lon")} AS _gx, ${latIdx30Sql("_lat")} AS _gy FROM _pts)""".stripMargin.replace("\n", " ")

  /** base32 string of a tile at `chars` — same alphabet as graft.core.Base32.
    * `tile` should be a simple column reference. */
  def base32Sql(tile: String, chars: Int): String = {
    val parts = (0 until chars).map { i =>
      val shift = 5 * (chars - 1 - i)
      s"substring('0123456789bcdefghjkmnpqrstuvwxyz', CAST(((($tile) >> $shift) & 31) AS INT) + 1, 1)"
    }
    parts.mkString("(", " || ", ")")
  }

  /** Ray-casting point-in-polygon for a FIXED polygon ring, emitted as the
    * same arithmetic graft.core.GeoMath.pointInRing evaluates: XOR over edge
    * crossing tests (sum of casts mod 2). `poly` = flat lon/lat pairs. */
  def pipSql(lon: String, lat: String, poly: Array[Double]): String = {
    val n = poly.length / 2
    val conds = (0 until n).map { i =>
      val j = if (i == 0) n - 1 else i - 1
      val xi = poly(2 * i); val yi = poly(2 * i + 1)
      val xj = poly(2 * j); val yj = poly(2 * j + 1)
      s"(CASE WHEN (($yi > ($lat)) <> ($yj > ($lat))) AND (($lon) < $xi + (($lat) - $yi) / ($yj - $yi) * ($xj - $xi)) THEN 1 ELSE 0 END)"
    }
    s"((${conds.mkString(" + ")}) % 2 = 1)"
  }

  /** Dense per-cell count grid over a box (SpatialOps.toGrid): the lattice
    * comes from generate_series with the SAME fromCellXY shift/interleave
    * chain, LEFT JOINed to per-tile counts; empty cells coalesce to 0. */
  def toGridDuck(table: String, key: String,
                 minLon: Double, minLat: Double, maxLon: Double, maxLat: Double,
                 bits: Int): String = {
    import graft.core.Geohash
    val (c0, cx, cy) = Geohash.gridProperties(minLon, minLat, maxLon, maxLat, bits)
    val x0 = Geohash.cellX(c0, bits); val y0 = Geohash.cellY(c0, bits)
    val lonShift = 30 - Geohash.lonBitsOf(bits)
    val latShift = 30 - Geohash.latBitsOf(bits)
    val nx = 1L << Geohash.lonBitsOf(bits)
    s"""${withIdxCte(table, key)},
       | _cnt AS (SELECT ${tileSql("_gx", "_gy", bits)} AS tile, count(*) AS n FROM _idx GROUP BY 1),
       | _g0 AS (SELECT g % $cx AS gj, g // $cx AS gi FROM generate_series(0, ${cx * cy - 1}) AS t(g)),
       | _g1 AS (SELECT gi, gj, CAST((($x0 + gj) % $nx) << $lonShift AS BIGINT) AS xx,
       |         CAST(($y0 + gi) << $latShift AS BIGINT) AS yy FROM _g0),
       | _g2 AS (SELECT gi, gj, ${tileSql("xx", "yy", bits)} AS tile FROM _g1)
       | SELECT gi, gj, _g2.tile AS tile, COALESCE(n, 0) AS n
       | FROM _g2 LEFT JOIN _cnt ON _g2.tile = _cnt.tile""".stripMargin.replace("\n", " ")
  }

  /** md5-derived 60-bit positive hash of a string expression, as DuckDB
    * SQL (`'0x' || hex` cast) — the oracle side of the engine's hash60. */
  def hash60DuckSql(s: String): String =
    s"CAST(('0x' || substring(md5($s), 1, 15)) AS BIGINT)"

  // ---- cube-face Morton quadkey (S2-style faces, SQL-expressible ordering;
  //      the Hilbert variant lives in graft.core.S2U and is checked by
  //      Scala tests — Hilbert needs a loop, which SQL can't express) ----

  /** Ordered (column, expression) steps computing the quadkey; expressions
    * reference previous step columns. The SAME text runs in Spark and DuckDB
    * (both support <<, &, |; trig differs by ≤1 ulp which is ~2^-40 of a
    * cell at the levels used — negligible vs the row counts involved). */
  def quadkeySteps(lon: String, lat: String, level: Int): Seq[(String, String)] = {
    val n = 1L << level
    def st(u: String) =
      s"CASE WHEN $u >= 0 THEN 0.5 * sqrt(1 + 3 * $u) ELSE 1 - 0.5 * sqrt(1 - 3 * $u) END"
    def idx(s: String) =
      s"LEAST(GREATEST(CAST(floor($s * $n.0) AS BIGINT), 0), ${n - 1})"
    Seq(
      "_x" -> s"cos(radians($lat)) * cos(radians($lon))",
      "_y" -> s"cos(radians($lat)) * sin(radians($lon))",
      "_z" -> s"sin(radians($lat))",
      "_f" -> ("CASE WHEN abs(_x) >= abs(_y) AND abs(_x) >= abs(_z) THEN (CASE WHEN _x >= 0 THEN 0 ELSE 3 END) " +
               "WHEN abs(_y) >= abs(_z) THEN (CASE WHEN _y >= 0 THEN 1 ELSE 4 END) " +
               "ELSE (CASE WHEN _z >= 0 THEN 2 ELSE 5 END) END"),
      "_u" -> ("CASE _f WHEN 0 THEN _y / _x WHEN 1 THEN (0.0 - _x) / _y WHEN 2 THEN (0.0 - _x) / _z " +
               "WHEN 3 THEN _z / _x WHEN 4 THEN _z / _y ELSE (0.0 - _y) / _z END"),
      "_v" -> ("CASE _f WHEN 0 THEN _z / _x WHEN 1 THEN _z / _y WHEN 2 THEN (0.0 - _y) / _z " +
               "WHEN 3 THEN _y / _x WHEN 4 THEN (0.0 - _x) / _y ELSE (0.0 - _x) / _z END"),
      "_s" -> st("_u"),
      "_t" -> st("_v"),
      "_qi" -> idx("_s"),
      "_qj" -> idx("_t"),
      "quad" -> s"(CAST(_f AS BIGINT) * ${1L << (2 * level)}) + ((${spreadSql("_qi")} << 1) | ${spreadSql("_qj")})")
  }

  /** DuckDB CTE chain for the quadkey over a key-derived-position table. */
  def quadkeyDuck(table: String, key: String, level: Int): String = {
    val base = s"SELECT $key, ${lonSql(key)} AS _lon, ${latSql(key)} AS _lat FROM $table"
    val steps = quadkeySteps("_lon", "_lat", level)
    val ctes = steps.zipWithIndex.foldLeft(s"WITH _c0 AS ($base)") {
      case (acc, ((col, expr), i)) =>
        s"$acc, _c${i + 1} AS (SELECT *, $expr AS $col FROM _c$i)"
    }
    s"$ctes SELECT $key, quad FROM _c${steps.size}"
  }

  // ---- hex grid (HexGrid.cell as pure-arithmetic SQL steps) ----

  /** Ordered steps computing the packed hex id — same floor(x+0.5) rounding
    * and expression structure as graft.core.HexGrid.axial/pack. */
  def hexSteps(lon: String, lat: String, size: Double): Seq[(String, String)] = Seq(
    "_hx" -> s"(sqrt(3.0) / 3.0 * ($lon) - 1.0 / 3.0 * ($lat)) / $size",
    "_hz" -> s"(2.0 / 3.0 * ($lat)) / $size",
    "_hy" -> "(0.0 - _hx) - _hz",
    "_rx" -> "floor(_hx + 0.5)", "_ry" -> "floor(_hy + 0.5)", "_rz" -> "floor(_hz + 0.5)",
    "_dx" -> "abs(_rx - _hx)", "_dy" -> "abs(_ry - _hy)", "_dz" -> "abs(_rz - _hz)",
    "_fq" -> "CASE WHEN _dx > _dy AND _dx > _dz THEN (0.0 - _ry) - _rz ELSE _rx END",
    "_fr" -> ("CASE WHEN (NOT (_dx > _dy AND _dx > _dz)) AND (NOT (_dy > _dz)) " +
              "THEN (0.0 - _rx) - _ry ELSE _rz END"),
    "hex" -> s"((CAST(_fq AS BIGINT) + ${1L << 20}) << 21) | (CAST(_fr AS BIGINT) + ${1L << 20})")

  /** DuckDB CTE chain for the hex id over a key-derived-position table. */
  def hexDuck(table: String, key: String, size: Double): String = {
    val base = s"SELECT $key, ${lonSql(key)} AS _lon, ${latSql(key)} AS _lat FROM $table"
    val steps = hexSteps("_lon", "_lat", size)
    val ctes = steps.zipWithIndex.foldLeft(s"WITH _c0 AS ($base)") {
      case (acc, ((col, expr), i)) =>
        s"$acc, _c${i + 1} AS (SELECT *, $expr AS $col FROM _c$i)"
    }
    s"$ctes SELECT $key, hex FROM _c${steps.size}"
  }

  // ---- text-ops oracle fragments (DuckDB dialect, mirroring TextOps) ----

  /** Whitespace tokens, empties dropped — TextOps.tokens. */
  def tokensDuck(text: String): String =
    s"list_filter(string_split_regex(trim($text), '\\s+'), t -> t <> '')"

  /** 3-word shingles over a token-list column — TextOps.shingles3. */
  def shingles3Duck(w: String): String =
    s"list_transform(range(1, len($w) - 1), i -> $w[i] || ' ' || $w[i+1] || ' ' || $w[i+2])"

  /** Distinct (doc_id, sh) shingle rows CTE prefix (defines _w and _sh). */
  def shingleCtes(table: String, idCol: String, textCol: String): String =
    s"""WITH _w AS (SELECT $idCol, ${tokensDuck(textCol)} AS w FROM $table),
       | _sh AS (SELECT DISTINCT $idCol, sh FROM
       |   (SELECT $idCol, unnest(list_distinct(${shingles3Duck("w")})) AS sh FROM _w WHERE len(w) >= 3))""".stripMargin.replace("\n", " ")

  /** The oracle's MinHash+LSH definition: [[MinhashK]] affine hashes
    * `h_i = (h & AffineMask)·(2i+1) + i` of one md5, minimized per doc and
    * banded [[Bands]] × [[MinhashK]]/[[Bands]]. Every h_i is strictly
    * monotone in `h & AffineMask`, so each s_i is a function of the masked
    * minimum alone and the bands collide iff that minimum does: the
    * engine's one-key candidate stage ([[graft.engine.TextOps.lshCandidates]])
    * must match this explicit form exactly. */
  val MinhashK = 16
  val Bands = 4

  /** Full MinHash+LSH near-dup pair query (TextOps.minhashLshPairs),
    * including the bucket frequency cap (TextOps.BandBucketCap): bands
    * are unpivoted to (id, band, key) rows, oversized buckets are filtered
    * out, candidates equi-join. */
  def minhashLshDuck(table: String, idCol: String, textCol: String,
                     threshold: Double, bucketCap: Int): String = {
    val (ctes, sel) = minhashLshParts(table, idCol, textCol, threshold, bucketCap)
    s"WITH $ctes $sel"
  }

  /** Connected components over the LSH pair set (TextOps.dedupClusters):
    * transitive closure by recursive CTE (fine at oracle scale — clusters
    * are band-bucket-capped), min reachable id as the representative. */
  def dedupClustersDuck(table: String, idCol: String, textCol: String,
                        threshold: Double, bucketCap: Int): String = {
    val (ctes, sel) = minhashLshParts(table, idCol, textCol, threshold, bucketCap)
    s"""WITH RECURSIVE $ctes,
       | _p AS ($sel),
       | _nodes AS (SELECT doc_a AS v FROM _p UNION SELECT doc_b FROM _p),
       | _e AS (SELECT doc_a AS a, doc_b AS b FROM _p UNION SELECT doc_b, doc_a FROM _p),
       | _reach(v, r) AS (
       |   SELECT v, v FROM _nodes
       |   UNION
       |   SELECT _e.b, _reach.r FROM _reach JOIN _e ON _e.a = _reach.v)
       | SELECT v AS doc_id, min(r) AS cluster_rep FROM _reach GROUP BY v""".stripMargin.replace("\n", " ")
  }

  /** Keep-one-per-cluster dedup (TextOps.dedupKeepRepresentatives over
    * the LSH pair set): every doc whose transitive-closure min is itself
    * (or which is in no pair) survives. */
  def dedupKeepDuck(table: String, idCol: String, textCol: String,
                    threshold: Double, bucketCap: Int): String = {
    val (ctes, sel) = minhashLshParts(table, idCol, textCol, threshold, bucketCap)
    s"""WITH RECURSIVE $ctes,
       | _p AS ($sel),
       | _nodes AS (SELECT doc_a AS v FROM _p UNION SELECT doc_b FROM _p),
       | _e AS (SELECT doc_a AS a, doc_b AS b FROM _p UNION SELECT doc_b, doc_a FROM _p),
       | _reach(v, r) AS (
       |   SELECT v, v FROM _nodes
       |   UNION
       |   SELECT _e.b, _reach.r FROM _reach JOIN _e ON _e.a = _reach.v),
       | _rep AS (SELECT v, min(r) AS rep FROM _reach GROUP BY v)
       | SELECT d.$idCol AS doc_id FROM $table d LEFT JOIN _rep ON d.$idCol = _rep.v
       | WHERE _rep.rep IS NULL OR _rep.rep = d.$idCol""".stripMargin.replace("\n", " ")
  }

  /** (CTE chain, final SELECT) of the LSH pair query — shared by
    * [[minhashLshDuck]] and the closure wrapper [[dedupClustersDuck]]. */
  def minhashLshParts(table: String, idCol: String, textCol: String,
                     threshold: Double, bucketCap: Int): (String, String) = {
    val rows = MinhashK / Bands
    val mins = (0 until MinhashK).map(i =>
      s"min(${graft.engine.TextOps.affineHashSql("_h", i)}) AS s$i").mkString(", ")
    val bandExprs = (0 until Bands).map { b =>
      (0 until rows).map(r => s"CAST(s${b * rows + r} AS VARCHAR)")
        .mkString("(", " || '_' || ", s") AS b$b")
    }.mkString(", ")
    val unpivot = (0 until Bands).map(b =>
      s"SELECT $idCol, $b AS band, b$b AS key FROM _b").mkString(" UNION ALL ")
    val ctes = s"""${shingleCtes(table, idCol, textCol).stripPrefix("WITH ")},
       | _shh AS (SELECT $idCol, sh, ${hash60DuckSql("sh")} AS _h FROM _sh),
       | _sig AS (SELECT $idCol, $mins FROM _shh GROUP BY $idCol),
       | _b AS (SELECT $idCol, $bandExprs FROM _sig),
       | _bands AS ($unpivot),
       | _ok AS (SELECT band, key FROM _bands GROUP BY band, key HAVING count(*) <= $bucketCap),
       | _okb AS (SELECT $idCol, _bands.band, _bands.key FROM _bands JOIN _ok
       |          ON _bands.band = _ok.band AND _bands.key = _ok.key),
       | _cand AS (SELECT DISTINCT a.$idCol AS doc_a, b.$idCol AS doc_b
       |           FROM _okb a JOIN _okb b
       |           ON a.band = b.band AND a.key = b.key AND a.$idCol < b.$idCol),
       | _cnt AS (SELECT $idCol, count(*) AS n FROM _sh GROUP BY $idCol),
       | _int AS (SELECT doc_a, doc_b, count(*) AS inter
       |          FROM _cand c JOIN _sh x ON x.$idCol = c.doc_a
       |                       JOIN _sh y ON y.$idCol = c.doc_b AND y.sh = x.sh
       |          GROUP BY doc_a, doc_b)""".stripMargin.replace("\n", " ")
    val sel = s"""SELECT i.doc_a, i.doc_b, inter, na.n AS n_a, nb.n AS n_b,
       |        CAST(inter AS DOUBLE) / (na.n + nb.n - inter) AS jaccard
       | FROM _int i JOIN _cnt na ON na.$idCol = i.doc_a JOIN _cnt nb ON nb.$idCol = i.doc_b
       | WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= $threshold""".stripMargin.replace("\n", " ")
    (ctes, sel)
  }

  /** 60-bit SimHash (TextOps.simhash60). */
  def simhashDuck(table: String, idCol: String, textCol: String): String = {
    val votes = (0 until 60).map(i =>
      s"sum(CASE WHEN ((h >> $i) & 1) = 1 THEN 1 ELSE -1 END) AS v$i").mkString(", ")
    val bits = (0 until 60).map(i =>
      s"(CASE WHEN v$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    s"""WITH _tok AS (SELECT DISTINCT $idCol, t FROM
       |   (SELECT $idCol, unnest(${tokensDuck(textCol)}) AS t FROM $table)),
       | _h AS (SELECT $idCol, ${hash60DuckSql("t")} AS h FROM _tok),
       | _v AS (SELECT $idCol, $votes FROM _h GROUP BY $idCol)
       | SELECT $idCol, ($bits) AS simhash FROM _v""".stripMargin.replace("\n", " ")
  }

  // ---- embedding / ANN oracle fragments (mirroring AnnOps) ----

  /** Left-to-right dot of a list column with constant vector (1-based). */
  def dotConstDuck(emb: String, qv: Array[Double]): String =
    qv.indices.map(j => s"CAST($emb[${j + 1}] AS DOUBLE) * ${qv(j)}").mkString("(", " + ", ")")

  def norm2Duck(emb: String, dim: Int): String =
    (0 until dim).map(j => s"CAST($emb[${j + 1}] AS DOUBLE) * CAST($emb[${j + 1}] AS DOUBLE)")
      .mkString("(", " + ", ")")

  /** Brute-force exact top-k cosine (AnnOps.annBrute). */
  def annBruteDuck(table: String, idCol: String, embCol: String,
                   dim: Int, nQueries: Int, k: Int): String = {
    val selects = (0 until nQueries).map { q =>
      val qv = graft.engine.AnnOps.queryVec(q, dim)
      val qn = math.sqrt(qv.map(x => x * x).sum)
      s"""SELECT $q AS qid, $idCol AS vec_id,
         | ${dotConstDuck(embCol, qv)} / (sqrt(${norm2Duck(embCol, dim)}) * $qn) AS cosine
         | FROM $table""".stripMargin.replace("\n", " ")
    }.mkString(" UNION ALL ")
    s"""WITH _all AS ($selects),
       | _r AS (SELECT qid, vec_id, cosine,
       |   row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rnk FROM _all)
       | SELECT qid, rnk, vec_id, cosine FROM _r WHERE rnk <= $k""".stripMargin.replace("\n", " ")
  }

  /** IVF-flat ANN (AnnOps.annIvf): data-sampled centroids, nearest-centroid
    * assignment by squared L2 (same left-to-right chain), probe nProbe
    * lists, exact cosine rerank — the whole pipeline reproduced in SQL. */
  def annIvfDuck(table: String, idCol: String, embCol: String, dim: Int,
                 nQueries: Int, k: Int, nCentroids: Int, nProbe: Int): String = {
    def d2cols(a: String, b: String) = (0 until dim).map { i =>
      val x = s"CAST($a[${i + 1}] AS DOUBLE)"; val y = s"CAST($b[${i + 1}] AS DOUBLE)"
      s"(($x - $y) * ($x - $y))"
    }.mkString("(", " + ", ")")
    def d2q(qv: Array[Double], b: String) = (0 until dim).map { i =>
      val y = s"CAST($b[${i + 1}] AS DOUBLE)"
      s"((${qv(i)} - $y) * (${qv(i)} - $y))"
    }.mkString("(", " + ", ")")
    val perQ = (0 until nQueries).map { q =>
      val qv = graft.engine.AnnOps.queryVec(q, dim)
      val qn = math.sqrt(qv.map(x => x * x).sum)
      s"""_p$q AS (SELECT cent_id, row_number() OVER (ORDER BY ${d2q(qv, "cvec")} ASC, cent_id ASC) AS prk FROM _c),
         | _s$q AS (SELECT $q AS qid, vec_id,
         |   ${dotConstDuck("emb", qv)} / (sqrt(${norm2Duck("emb", dim)}) * $qn) AS cosine
         |   FROM _asg JOIN _p$q ON _asg.cent_id = _p$q.cent_id WHERE prk <= $nProbe)""".stripMargin.replace("\n", " ")
    }.mkString(", ")
    val unions = (0 until nQueries).map(q => s"SELECT * FROM _s$q").mkString(" UNION ALL ")
    s"""WITH _c AS (SELECT $idCol AS cent_id, $embCol AS cvec FROM $table WHERE $idCol < $nCentroids),
       | _d AS (SELECT e.$idCol AS vec_id, e.$embCol AS emb, c.cent_id,
       |        ${d2cols(s"e.$embCol", "c.cvec")} AS d2 FROM $table e CROSS JOIN _c c),
       | _a AS (SELECT vec_id, emb, cent_id,
       |        row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cent_id ASC) AS rk FROM _d),
       | _asg AS (SELECT vec_id, emb, cent_id FROM _a WHERE rk = 1),
       | $perQ,
       | _all AS ($unions),
       | _r AS (SELECT qid, vec_id, cosine,
       |        row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rnk FROM _all)
       | SELECT qid, rnk, vec_id, cosine FROM _r WHERE rnk <= $k""".stripMargin.replace("\n", " ")
  }

  /** Label-blocked near-dup pairs (AnnOps.blockedNearDup), including the
    * oversized-block SRP sub-bucketing: the sub-bucket key is the same
    * left-to-right sign-bit sum the Spark side computes, so the join keys
    * agree bitwise. */
  def blockedNearDupDuck(table: String, idCol: String, embCol: String, labelCol: String,
                         dim: Int, threshold: Double,
                         subBlockCap: Int, subPlanes: Int): String = {
    val dot = (0 until dim).map(j =>
      s"CAST(a.$embCol[${j + 1}] AS DOUBLE) * CAST(b.$embCol[${j + 1}] AS DOUBLE)")
      .mkString("(", " + ", ")")
    def n2(t: String) = (0 until dim).map(j =>
      s"CAST($t.$embCol[${j + 1}] AS DOUBLE) * CAST($t.$embCol[${j + 1}] AS DOUBLE)")
      .mkString("(", " + ", ")")
    val bucket = (0 until subPlanes).map { p =>
      s"(CASE WHEN ${dotConstDuck(embCol, graft.engine.AnnOps.queryVec(100 + p, dim))} >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    s"""WITH _n AS (SELECT $labelCol, count(*) AS _ln FROM $table GROUP BY $labelCol),
       | _v AS (SELECT t.*, CASE WHEN _n._ln > $subBlockCap THEN $bucket ELSE -1 END AS _jb
       |        FROM $table t JOIN _n ON t.$labelCol = _n.$labelCol),
       | _p AS (SELECT a.$idCol AS vec_a, b.$idCol AS vec_b,
       |   $dot / (sqrt(${n2("a")}) * sqrt(${n2("b")})) AS cosine
       | FROM _v a JOIN _v b ON a.$labelCol = b.$labelCol AND a._jb = b._jb AND a.$idCol < b.$idCol)
       | SELECT vec_a, vec_b, cosine FROM _p WHERE cosine >= $threshold""".stripMargin.replace("\n", " ")
  }
}

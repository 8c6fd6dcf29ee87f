package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** GeoPoint mapping (SURVEY.md §3.1): the reference's GeoPoint property [U]
  * maps to two plain double columns (lat, lon) — struct them if a single
  * column is wanted; all math stays in codegen'd built-ins (no UDFs).
  *
  * Scale: `haversineKm` is map-only. Spatial *joins* at 100 TB use
  * `cellId` as a coarse grid bucket: co-shuffle both sides on the cell
  * (plus neighbor cells for radius queries) so candidate pairs are
  * bucket-local — the same candidate-pruning shape as the LSH/IVF
  * similarity paths, with geography as the hash function.
  */
object GeoOps {
  val EarthRadiusKm = 6371.0088

  /** Great-circle distance in km (haversine; inputs in degrees). */
  def haversineKm(lat1: Column, lon1: Column,
      lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1) / 2
    val dLon = radians(lon2 - lon1) / 2
    val a = pow(sin(dLat), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon), 2)
    lit(2 * EarthRadiusKm) * asin(sqrt(a))
  }

  /** Deterministic grid-cell id for a (lat, lon) at `cellDeg` resolution:
    * row-major over a [-90,90]×[-180,180] grid. Long-typed so it shuffles
    * as 8 bytes. */
  def cellId(lat: Column, lon: Column, cellDeg: Double): Column = {
    val cols = math.ceil(360.0 / cellDeg).toLong
    (floor((lat + lit(90.0)) / lit(cellDeg)).cast("long") * lit(cols) +
      floor((lon + lit(180.0)) / lit(cellDeg)).cast("long"))
  }

  /** COMPLETE grid-blocked radius self-join (radius ≤ 500 km): pairs of
    * `pts` rows (`k`, `lat`, `lon`) within `radiusKm`, found without an
    * all-pairs cross join. CONTRACT: `k` must be unique per point — pair
    * generation is exactly-once (the r19 rewrite deleted the final
    * `.distinct()`), so duplicate keys, or duplicate rows sharing a key,
    * surface as duplicate output rows; dedupe-by-k is the caller's job
    * (da =!= db also drops genuine pairs between distinct points that
    * share a k). Blocking, with the completeness argument:
    *  - 5° latitude bands: 500 km ≤ 4.497° of latitude ⇒ a qualifying
    *    pair's bands differ by ≤ 1;
    *  - non-polar bands (\|lat\| ≤ 70, bands 4..31) use a 15° longitude
    *    grid: at \|lat\| ≤ 70, 500 km ≤ 500/(111.19·cos 70°) = 13.2° of
    *    longitude < 15° ⇒ qualifying cells differ by ≤ 1 (mod 24 — the
    *    ±180° wraparound is a REAL adjacency, handled with pmod);
    *  - polar bands (\|lat\| > 70) collapse to ONE cell per band (cos → 0
    *    defeats any fixed longitude window; polar populations are
    *    vanishing, so a catch-all bucket is the right trade).
    * A pair with a polar member is caught by the other member probing the
    * polar band's catch-all key; matches may exist in only ONE probe
    * direction, so pairs are canonicalized (least/greatest) AFTER the
    * join instead of by join role. Probes explode ≤×6 in one canonical
    * direction per cell pair (r19 — see the probe-set comment below);
    * the join is a pure equi-join on (band, cell) — no nested loop at any
    * corpus size — then the exact haversine confirms, rounded BEFORE the
    * threshold compare so boundary ulps can't flip membership across
    * engines. */
  def radiusSelfJoinKm(pts: DataFrame, radiusKm: Double): DataFrame = {
    require(radiusKm > 0.0 && radiusKm <= 500.0,
      "blocking constants (5-degree bands, 15-degree cells, polar cutoff 70) are derived for 0 < radius <= 500 km")
    // Boundary normalization at KEY time: lat = 90.0 would floor into a
    // band 36 no probe targets (probes null out band + db > 35), and
    // lon = 180.0 into cellRaw 24 that no ±1 probe pmods onto — two points
    // ON the boundary would never pair. Clamp the pole into band 35 and
    // wrap the antimeridian into cell 0 (where ±180° genuinely lives);
    // internal generators can't emit these values, but the public helper
    // accepts arbitrary frames (PropertySpec plants exact-boundary
    // adversaries).
    val keyed = pts
      .withColumn("band",
        least(floor((col("lat") + lit(90.0)) / lit(5.0)), lit(35)).cast("int"))
      .withColumn("cellRaw",
        pmod(floor((col("lon") + lit(180.0)) / lit(15.0)), lit(24)).cast("int"))
      .withColumn("cell",
        when(col("band") <= 3 || col("band") >= 32, lit(0))
          .otherwise(col("cellRaw")))
      // unit-sphere coordinates, computed ONCE PER POINT: the candidate
      // loop then prefilters on squared chord length (3 subs + 3 mults per
      // pair) instead of running the haversine's per-pair trig — the
      // expensive formula only touches survivors. The chord threshold is
      // the exact monotone image of the radius, widened 0.1 % so no pair
      // the final (semantic) round(haversine) ≤ radius gate would keep can
      // be lost to the prefilter's floating point.
      .withColumn("px", cos(radians(col("lat"))) * cos(radians(col("lon"))))
      .withColumn("py", cos(radians(col("lat"))) * sin(radians(col("lon"))))
      .withColumn("pz", sin(radians(col("lat"))))
    val chord2Max = {
      val half = radiusKm * 1.001 / (2 * EarthRadiusKm)
      4 * math.sin(half) * math.sin(half)
    }
    val homes = keyed.select(col("k").as("db"), col("lat").as("latb"),
      col("lon").as("lonb"), col("px").as("xb"), col("py").as("yb"),
      col("pz").as("zb"), col("band"), col("cell"))
    // r19: CANONICAL one-direction probing — ≤6 plain struct expressions
    // + array_distinct instead of the original ×9 interpreted HOF probe
    // window. Two changes vs the 9-probe scheme, results identical:
    //
    // (a) codegen-able expressions replace the transform/filter/flatten
    //     lambda chain (out-of-range bands emit the home key, already in
    //     the array, instead of a filtered null);
    // (b) each unordered CELL pair is probed in ONE direction instead of
    //     two, halving candidate pairs, chord/haversine evaluations, and
    //     the final distinct's input. Probe set per point:
    //       (0,0)   own cell — same-cell pairs; the selfp filter below
    //               keeps only da < db so each pair appears once;
    //       (0,+1)  right neighbor — same-band cross-cell pairs: exactly
    //               one of the two cells is the other's +1 (mod 24);
    //       (+1,-1..+1) the band above — cross-band pairs are generated
    //               from BELOW only. Sufficient because a qualifying
    //               pair's lon window exceeds ±1 cells only when its
    //               poleward member sits in a polar band, and probes INTO
    //               a polar band collapse to that band's catch-all key;
    //       (-1 catch-all) from band 4 only — the one cross-band case the
    //               up-probe cannot cover from below: a band-3 (south
    //               polar) member more than ±1 lon-cells away from its
    //               band-4 partner; the band-4 point probes the catch-all
    //               (3, 0) directly. (North mirror needs nothing: for a
    //               (31, 32) pair the band-31 point's up-probes all map
    //               to (32, 0).)
    //
    // r19 follow-up — EXACTLY-ONCE generation, distinct dropped. The one
    // double-generation case of the scheme above was the band-3/band-4
    // pair whose members sit within ±1 lon-cells: the band-3 point's
    // up-probe reached it AND the band-4 partner's (3, 0) catch-all
    // reached it back. Band-3 points now probe UP not at all (up() emits
    // the home key for band === 3): the catch-all alone generates every
    // band-3×band-4 pair — it joins ALL band-3 homes, which all live at
    // the one key (3, 0), so nothing is lost and no pair is generated
    // twice. Every other direction was already single:
    //   - self pairs: ordered da < db once;
    //   - same-band cross-cell: from the left point only (the mod-24
    //     cycle can't close at length 2);
    //   - cross-band non-polar: from below only;
    //   - polar adjacencies (2×3, 31×32, 32×33, ...): the poleward key is
    //     a catch-all the lower point probes; the polar point's own
    //     probes never reach back down.
    // With generation exactly-once, the final .distinct() — a full
    // shuffle + hash-aggregate of every qualifying pair — is deleted
    // outright (guide §2.4 "a distinct on data that is already unique").
    // PropertySpec's brute-force equality (polar, wraparound, boundary
    // adversaries) and the sf0.01 oracle gate the claim.
    val probeKeys = {
      val home = struct(col("band").as("band"), col("cell").as("cell"))
      def up(dc: Int) = {
        val b1 = col("band") + lit(1)
        when(b1 > 35 || col("band") === 3, home).otherwise(
          struct(b1.as("band"),
            when(b1 <= 3 || b1 >= 32, lit(0))
              .otherwise(pmod(col("cellRaw") + lit(dc), lit(24)))
              .cast("int").as("cell")))
      }
      val right = struct(col("band").as("band"),
        when(col("band") <= 3 || col("band") >= 32, lit(0))
          .otherwise(pmod(col("cellRaw") + lit(1), lit(24)))
          .cast("int").as("cell"))
      val downCatch = when(col("band") === 4,
        struct(lit(3).cast("int").as("band"), lit(0).cast("int").as("cell")))
        .otherwise(home)
      array_distinct(array(home, right, up(-1), up(0), up(1), downCatch))
    }
    val probes = keyed.select(col("k").as("da"), col("lat").as("lata"),
      col("lon").as("lona"), col("px").as("xa"), col("py").as("ya"),
      col("pz").as("za"), col("band").as("hb"), col("cell").as("hc"),
      explode(probeKeys).as("bk"))
      .select(col("da"), col("lata"), col("lona"),
        col("xa"), col("ya"), col("za"),
        // selfp marks the (0,0) self-probe: same-cell pairs arise ONLY
        // there, in both orderings — keep da < db once, below
        (col("bk.band") === col("hb") && col("bk.cell") === col("hc"))
          .as("selfp"),
        col("bk.band").as("band"), col("bk.cell").as("cell"))
    val chord2 =
      (col("xa") - col("xb")) * (col("xa") - col("xb")) +
        (col("ya") - col("yb")) * (col("ya") - col("yb")) +
        (col("za") - col("zb")) * (col("za") - col("zb"))
    // r19: pin the build side — Catalyst's size estimate picked the
    // EXPLODED probe side (≤6 keys/point) as the build once the canonical
    // scheme shrank it; the homes side is strictly smaller (one row per
    // point) and is the natural build relation (guide §3.1).
    // shuffle_hash, NOT broadcast — homes is one row per corpus point, so
    // a broadcast pins an O(corpus) hash relation on the driver (fine at
    // sf0.1, an OOM at 100 TB). The shuffled hash join builds homes per
    // partition and needs no sort. Its key space is bounded, though: about
    // 700 (band, cell) keys, geographically skewed (polar bands collapse
    // to cell 0). So parallelism caps at the cell count whatever
    // spark.sql.shuffle.partitions is, and one partition's build holds the
    // points of its hottest cell, which a dense enough cell can still
    // overflow.
    probes.join(homes.hint("shuffle_hash"), Seq("band", "cell"))
      .filter(col("da") =!= col("db"))
      // same-cell matches come from the self-probe in both orderings;
      // every other probe direction is already canonical — keep one
      .filter(!col("selfp") || col("da") < col("db"))
      .filter(chord2 <= lit(chord2Max))
      .select(
        least(col("da"), col("db")).as("pa"),
        greatest(col("da"), col("db")).as("pb"),
        round(haversineKm(
          col("lata"), col("lona"), col("latb"), col("lonb")), 4)
          .as("dist_km"))
      .filter(col("dist_km") <= radiusKm)
      .select(col("pa").as("da"), col("pb").as("db"), col("dist_km"))
  }
}

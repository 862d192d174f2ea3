package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.sources.{Manifests, Sources}
import graft.llmops.Multimodal

/** Source/sink + multimodal family (SURVEY.md §2.1 S5-S8; builder-prompt
  * multimodal extension). */
object SourceQueries extends QueryFamily {

  /** The committed job-manifest fixtures (three JSON files), resolved
    * against the working directory (the repository root). Absolute, so
    * Spark's listing and DuckDB's read_blob() report the same paths. */
  private val ManifestDir =
    new java.io.File("src/test/resources/manifests").getAbsolutePath

  /** Shared body of the media near-dup queries: hash codes + per-id
    * banded-near-neighbor count — one place so the pair/count/fill
    * semantics can't drift between the image and audio forms. */
  private def hashWithNearCounts(h: org.apache.spark.sql.DataFrame,
      maxDist: Int): org.apache.spark.sql.DataFrame = {
    val pairs = Multimodal.phashNearDups(h, maxDist)
    val cnt = pairs.select(col("id_a").as("media_id"))
      .union(pairs.select(col("id_b").as("media_id")))
      .groupBy("media_id").agg(count(lit(1)).as("n_near"))
    h.join(cnt, Seq("media_id"), "left")
      .na.fill(0L, Seq("n_near"))
      .orderBy("media_id")
  }

  def defs: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // S8 — bcecmd CLI listing parse: semi-structured text → typed rows
    // (PRE prefixes, TOTAL footers, paths with spaces;
    // reference: storage/scene_copy.py:94-145). Input lines are
    // constructed from the customer table so the oracle sees the same.
    ("q_bcecmd_parse",
      (s: SparkSession, d: String) => {
        val lines = Tables.customer(s, d).select(
          when(col("c_custkey") % 5 === 0,
            concat(lit("  PRE  UE4scenes/"), col("c_name"), lit(" harbour/")))
            .when(col("c_custkey") % 7 === 0, lit("TOTAL 42 OBJECTS; 999 BYTES"))
            .otherwise(concat(lit("2026-01-12 08:33:21  "), col("c_custkey"),
              lit("  bos:/b/"), col("c_name"), lit(" frame 0001.png")))
            .as("value"))
        Sources.parseBcecmdListing(lines)
          .orderBy("key")
      },
      Some("""WITH lines AS (
             |  SELECT CASE
             |    WHEN c_custkey % 5 = 0 THEN '  PRE  UE4scenes/' || c_name || ' harbour/'
             |    WHEN c_custkey % 7 = 0 THEN 'TOTAL 42 OBJECTS; 999 BYTES'
             |    ELSE '2026-01-12 08:33:21  ' || CAST(c_custkey AS VARCHAR) || '  bos:/b/' || c_name || ' frame 0001.png'
             |    END AS value
             |  FROM customer),
             |t AS (SELECT trim(value) AS v FROM lines
             |      WHERE NOT starts_with(trim(value), 'TOTAL') AND trim(value) <> ''),
             |p AS (
             |  SELECT v, starts_with(v, 'PRE') AS is_prefix,
             |    CASE WHEN starts_with(v, 'PRE')
             |         THEN regexp_replace(regexp_extract(v, '^PRE\s+(.*)$', 1), '/$', '')
             |         ELSE regexp_extract(v, '^\S+\s+\S+\s+\d+\s+(.*)$', 1) END AS key,
             |    CASE WHEN starts_with(v, 'PRE') THEN NULL
             |         ELSE CAST(regexp_extract(v, '^\S+\s+\S+\s+(\d+)\s+', 1) AS BIGINT) END AS size,
             |    CASE WHEN starts_with(v, 'PRE') THEN NULL
             |         ELSE regexp_extract(v, '^(\S+\s+\S+)\s+\d+\s+', 1) END AS modified
             |  FROM t)
             |SELECT key, size, modified, is_prefix FROM p
             |WHERE key <> '' ORDER BY key""".stripMargin)),

    // S5 — recursive FS inventory via binaryFile listing (metadata-only
    // scan) of the committed manifest fixtures, so the listing is the same
    // in every checkout. Hash-verified: DuckDB's read_blob() lists the
    // same files, so path+size compare exactly (the "file:" URI scheme is
    // stripped to match plain paths; mtimes stay excluded — not
    // oracle-stable).
    ("q_fs_inventory",
      (s: SparkSession, d: String) => {
        Sources.fsInventory(s, ManifestDir, "*.json")
          .select(regexp_replace(col("path"), "^file:", "").as("path"), col("size"))
          .orderBy("path")
      },
      Some(s"""SELECT filename AS path, CAST(size AS BIGINT) AS size
             |FROM read_blob('$ManifestDir/*.json')
             |ORDER BY filename""".stripMargin)),

    // S15 — manifest-collection source: a directory of job-manifest JSON
    // files as a DataFrame (nested configs → structs), with the *_dir
    // run-date resolution applied (reference: core/job_utils.py:53-126).
    // Committed fixtures under src/test/resources/manifests make the read
    // hash-verifiable: DuckDB's read_json_auto lists the same files. The
    // deep-merge/template/placeholder flow is spec-tested (ManifestsSpec)
    // — it is driver-side config, not data-plane rows.
    ("q_manifest_source",
      (s: SparkSession, d: String) => {
        val m = Manifests.resolveDatedDirs(
          Manifests.loadCollection(s, ManifestDir),
          date = "2026_08_13")
        m.select(col("job_id"), col("job_type"), col("map"),
            col("output_dir"),
            col("sequence_config.nav_roam.num_sequences").as("num_sequences"),
            col("sequence_config.nav_roam.behavior_weights.roam").as("w_roam"))
          .orderBy("job_id")
      },
      Some(s"""SELECT job_id, job_type, map,
             |  CASE WHEN output_dir IS NOT NULL
             |       THEN output_dir || '/2026_08_13' END AS output_dir,
             |  CAST(sequence_config.nav_roam.num_sequences AS BIGINT) AS num_sequences,
             |  CAST(sequence_config.nav_roam.behavior_weights.roam AS DOUBLE) AS w_roam
             |FROM read_json_auto('$ManifestDir/*.json')
             |ORDER BY job_id""".stripMargin)),

    // S2/S3 — scenes.json document build: rows → the catalog doc envelope
    // serialized as a deterministic JSON string (the reference writes a
    // JSON text file; string output is hash-comparable, nested arrays are
    // not — VERDICT r1 item 1).
    ("q_scenes_json_doc",
      (s: SparkSession, d: String) => {
        val scenes = Tables.nation(s, d).select(
          col("n_name").as("scene_name"),
          concat(lit("dir_"), col("n_name")).as("launch_directory"),
          concat(lit("/Game/"), col("n_name")).as("base_game_path"))
        val maps = Tables.supplier(s, d).join(Tables.nation(s, d),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("n_name").as("scene_name"),
            col("s_name").as("map_name"),
            concat(lit("/Game/"), col("n_name"), lit("/Maps/"), col("s_name")).as("map_path"))
        Sources.scenesJsonText(scenes, maps)
      },
      Some("""WITH scenes AS (
             |  SELECT n_name AS scene_name, 'dir_' || n_name AS launch_directory,
             |         '/Game/' || n_name AS base_game_path
             |  FROM nation),
             |maps AS (
             |  SELECT n_name AS scene_name, s_name AS map_name,
             |         '/Game/' || n_name || '/Maps/' || s_name AS map_path
             |  FROM supplier JOIN nation ON s_nationkey = n_nationkey),
             |mj AS (
             |  SELECT scene_name,
             |    '[' || string_agg('{"name":"' || map_name || '","path":"' || map_path || '"}',
             |                      ',' ORDER BY map_name, map_path) || ']' AS maps_json
             |  FROM maps GROUP BY scene_name),
             |sj AS (
             |  SELECT s.scene_name,
             |    '{"scene_name":"' || s.scene_name ||
             |    '","launch_directory":"' || s.launch_directory ||
             |    '","base_game_path":"' || s.base_game_path ||
             |    '","maps":' || coalesce(m.maps_json, '[]') || '}' AS scene_json
             |  FROM scenes s LEFT JOIN mj m USING (scene_name))
             |SELECT CAST(count(*) AS BIGINT) AS total_scenes,
             |       '[' || string_agg(scene_json, ',' ORDER BY scene_name) || ']' AS scenes_json
             |FROM sj""".stripMargin)),

    // Multimodal — binary payload decoded by the real pure-JVM codecs
    // (PPM/WAV/Y4M, llmops/Codecs.scala) → pooled features via
    // mapPartitions batches. DuckDB-oracled by INDEPENDENT re-derivation
    // (the q_frame_sample playbook): the synthetic content bytes are the
    // md5("media:id:blk") stream, so the oracle rebuilds each decoded
    // value — PPM luma in emulated float32 (DuckDB FLOAT ops are native
    // IEEE single, verified bit-identical to the JVM's), WAV PCM16 as
    // signed little-endian pairs, Y4M luma as byte/255f — and the mean
    // sums are exact in double (term ulps ≥ 2⁻⁴⁰, ≤ 960 terms), so
    // order-free SUM replays the kernel's sequential fold bit-for-bit.
    ("q_media_features",
      (s: SparkSession, d: String) => {
        Multimodal.extractFeatures(Multimodal.syntheticMedia(s, 64), featureDim = 8)
          .select("media_id", "kind", "kind_detected", "meta_ok",
            "n_values", "mean_value")
          .orderBy("media_id")
      },
      Some(mediaFeaturesOracleSql)),

    // Multimodal — nearest-neighbor resize of decoded PPM image rows;
    // payload_hex_md5 locks the re-encoded container bytes, not just
    // shapes. Named _hex_md5 because it is md5 of the LOWERCASE HEX of the
    // payload, NOT md5 of the raw container bytes - do not compare it
    // against a real container digest.
    // The hash is md5 over the payload's lowercase hex (not the raw
    // blob) so it replays in DuckDB, where the oracle reconstructs the
    // entire re-encoded container — ASCII header hex + the
    // nearest-neighbor-selected source bytes straight from the md5
    // content stream — and must land on the same digest as Spark's
    // decode→resample→re-encode pipeline.
    ("q_media_resize",
      (s: SparkSession, d: String) => {
        Multimodal.resize(Multimodal.syntheticMedia(s, 64), outW = 4, outH = 2)
          .select(col("media_id"), col("out_width"), col("out_height"),
            size(col("pixels")).as("n_pixels"),
            md5(lower(hex(col("payload")))).as("payload_hex_md5"))
          .orderBy("media_id")
      },
      Some(mediaResizeOracleSql)),

    // Multimodal — video frame sampling as pure-expression byte slicing
    // (no decoder in the plan); frames_md5_xor locks the sliced YUV bytes
    // (renamed from frames_hash: it is a 60-bit md5-over-hex XOR device,
    // NOT xxhash64 of the raw frame bytes - see the derivation note below).
    // DuckDB-oracled via an INDEPENDENT derivation: the synthetic Y4M
    // content stream is concatenated md5("media:id:blk") blocks and the
    // 48-byte frame planes align to exactly 3 blocks, so the oracle
    // reconstructs each sampled frame's bytes as md5-hex concatenation —
    // never touching a blob — and must land on the same 60-bit frame
    // hash as Spark's container arithmetic (header length + frame
    // offsets + substring slice). The hash is md5-based (the TextStats
    // 60-bit device), not xxhash64, precisely so it replays cross-engine;
    // frame_idx is unique per group, so XOR cannot cancel duplicates
    // (and unlike sum it cannot overflow under ANSI mode).
    ("q_frame_sample",
      (s: SparkSession, d: String) => {
        Multimodal.sampleFrames(Multimodal.syntheticMedia(s, 64), stride = 5)
          .groupBy("media_id")
          .agg(count(lit(1)).as("n_sampled"), max(col("frame_idx")).as("last_frame"),
            expr("bit_xor(cast(conv(substring(md5(concat(cast(frame_idx as string), " +
              "':', lower(hex(frame_bytes)))), 1, 15), 16, 10) as bigint))")
              .as("frames_md5_xor"))
          .orderBy("media_id")
      },
      Some("""WITH vids AS (
             |  SELECT i AS media_id FROM range(0, 64) t(i) WHERE i % 3 = 2),
             |fr AS (
             |  SELECT media_id, f FROM vids, range(0, 30) g(f) WHERE f % 5 = 0),
             |b AS (
             |  SELECT media_id, f,
             |    md5('media:' || media_id || ':' || (3*f)) ||
             |    md5('media:' || media_id || ':' || (3*f + 1)) ||
             |    md5('media:' || media_id || ':' || (3*f + 2)) AS frame_hex
             |  FROM fr)
             |SELECT media_id,
             |  count(*) AS n_sampled,
             |  CAST(max(f) AS INT) AS last_frame,
             |  bit_xor(CAST(concat('0x',
             |    substring(md5(f || ':' || frame_hex), 1, 15)) AS BIGINT)) AS frames_md5_xor
             |FROM b GROUP BY media_id ORDER BY media_id""".stripMargin)),

    // Multimodal — perceptual average-hash image dedup: one decode pass
    // (8×8 resize), hash + Hamming-banded near-dup pairs in pure column
    // arithmetic. DuckDB-oracled end to end: the oracle re-derives the
    // 8×8 nearest-neighbor luma raster from the md5 content stream in
    // emulated float32, packs the aHash bits (two's-complement bit 63,
    // the q_ahash_bits device), and counts neighbors via ALL-PAIRS
    // popcount — the banding's lossless-recall guarantee is exactly why
    // the quadratic truth must match. Golden kept as a drift guard.
    ("q_media_phash",
      (s: SparkSession, d: String) => hashWithNearCounts(
        Multimodal.perceptualHash(Multimodal.syntheticMedia(s, 64)), maxDist = 12),
      Some(mediaHashOracleSql(kindMod = 0, maxDist = 12))),

    // Multimodal — audio energy-envelope fingerprint: the WAV analog of
    // q_media_phash (one decode pass → 64-window envelope → aHash bits →
    // the same Hamming-banded pair search). DuckDB-oracled the same way:
    // PCM16 samples re-derived as signed little-endian byte pairs, the
    // 64-window |amplitude| envelope replayed with the exact remainder
    // boundaries and one float downcast per window.
    ("q_media_ahash",
      (s: SparkSession, d: String) => hashWithNearCounts(
        Multimodal.audioHash(Multimodal.syntheticMedia(s, 64)), maxDist = 10),
      Some(mediaHashOracleSql(kindMod = 1, maxDist = 10))),

    // The Hamming-banded pair search itself, DuckDB-oracled: the banding
    // is pure integer arithmetic (its media queries are golden-locked
    // only because of the binary DECODE upstream), so feed it a
    // deterministic 64-bit code table — bytes mixed from customer keys
    // with small-prime multipliers, plus 2-bit-flip perturbed copies as
    // planted near-dups — and hash-compare against an ALL-PAIRS popcount.
    // The pigeonhole recall guarantee (no false negatives ≤ maxDist)
    // is exactly what makes the banded result equal the quadratic truth.
    ("q_phash_pairs",
      (s: SparkSession, d: String) => {
        // byte i of the code = (k·p_i + 17i) mod 256, top byte mod 128 so
        // the code stays non-negative in both engines' BIGINT
        val primes = Seq(131, 179, 53, 97, 241, 67, 23, 193)
        def code(k: org.apache.spark.sql.Column) =
          primes.zipWithIndex.map { case (p, i) =>
            val mod = if (i == 7) 128 else 256
            call_function("shiftleft",
              pmod(k * p + i * 17, lit(mod)).cast("long"), lit(i * 8))
          }.reduce(_ + _)
        val base = Tables.customer(s, d)
          .filter(pmod(col("c_custkey"), lit(37)) === 0)
          .select(col("c_custkey").as("media_id"),
            code(col("c_custkey")).as("phash"))
        // flip bits (media_id % 63) and (1 + (media_id·7) % 63): both are
        // ≤ 62 (so the sign bit — kept 0 by the top-byte mod 128 — stays
        // untouched in both engines, and DuckDB's 1::BIGINT << s never
        // overflows), and they can never coincide (m ≡ 1+7m (mod 63) has
        // no solution: 6m ≡ 62 with gcd(6,63)=3 ∤ 62), so the perturbed
        // copy is always exactly a 2-bit flip. The r7 form used % 64:
        // shift 63 overflowed DuckDB's BIGINT, and media_id ≡ 0 (mod 32)
        // made the two flips cancel into an exact duplicate.
        val pert = base.filter(pmod(col("media_id"), lit(5)) === 0)
          .select((col("media_id") + 10000000L).as("media_id"),
            col("phash")
              .bitwiseXOR(call_function("shiftleft", lit(1L),
                pmod(col("media_id"), lit(63))))
              .bitwiseXOR(call_function("shiftleft", lit(1L),
                lit(1) + pmod(col("media_id") * 7, lit(63)))).as("phash"))
        Multimodal.phashNearDups(base.unionByName(pert), maxDist = 6)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH ks AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 37 = 0),
             |base AS (
             |  SELECT k AS media_id,
             |      ((k*131 +   0) % 256)
             |    + (((k*179 +  17) % 256) << 8)
             |    + (((k* 53 +  34) % 256) << 16)
             |    + (((k* 97 +  51) % 256) << 24)
             |    + (((k*241 +  68) % 256) << 32)
             |    + (((k* 67 +  85) % 256) << 40)
             |    + (((k* 23 + 102) % 256) << 48)
             |    + (((k*193 + 119) % 128) << 56) AS phash
             |  FROM ks),
             |pert AS (
             |  SELECT media_id + 10000000 AS media_id,
             |    xor(xor(phash, CAST(1 AS BIGINT) << (media_id % 63)),
             |        CAST(1 AS BIGINT) << (1 + (media_id*7) % 63)) AS phash
             |  FROM base WHERE media_id % 5 = 0),
             |t AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
             |pairs AS (
             |  SELECT a.media_id AS id_a, b.media_id AS id_b,
             |    bit_count(xor(a.phash, b.phash)) AS hamming
             |  FROM t a JOIN t b ON a.media_id < b.media_id)
             |SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
             |FROM pairs WHERE hamming <= 6 ORDER BY id_a, id_b""".stripMargin)),

    // The aHash bit-packing itself, DuckDB-oracled (the q_phash_pairs
    // pattern, next slice): q_media_phash/q_media_ahash stay golden only
    // because of the binary DECODE upstream, so feed the REAL packing
    // kernel (Multimodal.bitsAboveMean — the exact code path both media
    // hashes share) deterministic synthetic 64-value rasters and
    // hash-compare. Exactness is engineered, not hoped: raster values
    // are integer-valued doubles, the mean is Σ/64 (power-of-two divide
    // ⇒ bit-exact in both engines), and bit 63 — which DuckDB cannot
    // reach via 1::BIGINT << 63 — is spelled as two's-complement
    // Long.MinValue summed in HUGEINT then cast back (the kernel's own
    // shiftleft(1L, 63) is the same value by construction).
    ("q_ahash_bits",
      (s: SparkSession, d: String) => {
        val rasters = Tables.customer(s, d)
          .filter(pmod(col("c_custkey"), lit(41)) === 0)
          .select(col("c_custkey").as("media_id"),
            transform(sequence(lit(0), lit(63)),
              i => pmod(col("c_custkey") * (i + 3), lit(97)).cast("double"))
              .as("vals"))
        Multimodal.bitsAboveMean(rasters).orderBy("media_id")
      },
      Some("""WITH ks AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 41 = 0),
             |v AS (
             |  SELECT k, i, CAST((k*(i+3)) % 97 AS DOUBLE) AS val
             |  FROM ks, generate_series(0, 63) AS g(i)),
             |m AS (SELECT k, sum(val)/64 AS mean FROM v GROUP BY k),
             |b AS (
             |  SELECT v.k,
             |    CAST(sum(CASE WHEN val > mean THEN
             |      CASE WHEN i = 63 THEN -9223372036854775807 - 1
             |           ELSE CAST(1 AS BIGINT) << i END
             |      ELSE 0 END) AS BIGINT) AS phash
             |  FROM v JOIN m ON v.k = m.k GROUP BY v.k)
             |SELECT k AS media_id, phash FROM b ORDER BY media_id""".stripMargin)),

    // The audio-envelope bucket math, DuckDB-oracled (same slice): the
    // REAL kernel (Multimodal.envelopeOf — the exact function
    // audioEnvelope runs after WAV decode) over deterministic synthetic
    // sample arrays whose lengths are deliberately NOT multiples of the
    // window count, so the remainder-distribution boundaries
    // (b·len/n ≤ i < (b+1)·len/n) are what the oracle replays. Samples
    // are integer-valued floats (|v| ≤ 100): per-bucket double sums are
    // order-insensitive-exact, the divide is one IEEE op, and the float
    // downcast is one IEEE rounding — identical in both engines.
    ("q_envelope_windows",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val n = 8
        val samples = Tables.customer(s, d)
          .filter(pmod(col("c_custkey"), lit(59)) === 0)
          .select(col("c_custkey").as("media_id"),
            transform(sequence(lit(0), lit(95) + pmod(col("c_custkey"), lit(37))),
              i => (pmod(col("c_custkey") * (i + 7), lit(201)) - 100)
                .cast("float")).as("samples"))
          .as[(Long, Array[Float])]
        samples.map { case (id, arr) =>
          (id, Multimodal.envelopeOf(arr, n)) }
          .toDF("media_id", "env")
          .select(col("media_id"), posexplode(col("env")).as(Seq("win", "env_val")))
          .orderBy("media_id", "win")
      },
      Some("""WITH ks AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 59 = 0),
             |p AS (SELECT k, 96 + (k % 37) AS len FROM ks),
             |smp AS (
             |  SELECT k, len, i, CAST((k*(i+7)) % 201 - 100 AS DOUBLE) AS v
             |  FROM p, generate_series(0, 132) AS g(i) WHERE i < len),
             |w AS (SELECT k, len, b FROM p, generate_series(0, 7) AS gb(b)),
             |env AS (
             |  SELECT w.k, w.b,
             |    CAST(sum(abs(v)) / count(*) AS FLOAT) AS env_val
             |  FROM w JOIN smp ON w.k = smp.k
             |    AND smp.i >= (w.b * w.len) // 8 AND smp.i < ((w.b + 1) * w.len) // 8
             |  GROUP BY w.k, w.b)
             |SELECT k AS media_id, CAST(b AS INT) AS win, env_val
             |FROM env ORDER BY media_id, win""".stripMargin))
  )

  // ---- media-oracle builders -------------------------------------------
  // The synthetic media content bytes ARE the md5("media:id:blk") stream
  // (Multimodal.contentBytes), so every decoded value is re-derivable in
  // DuckDB without a blob: byte o lives at hex chars [2(o%16)+1, +2) of
  // block o/16's md5 string. Float32 kernel steps are replayed with
  // DuckDB FLOAT arithmetic (native IEEE single — measured bit-identical
  // to JVM float on the fixture's value ranges), and every mean-sum is
  // exact in double (term ulps ≥ 2⁻⁴⁰, ≤ 960 terms ⇒ ≤ 46 significant
  // bits), so order-free SUM equals the kernel's sequential fold.

  /** Hex pair of content byte `o` (a SQL expression) for media `id`. */
  private def hexAt(id: String, o: String): String =
    s"substring(md5('media:' || $id || ':' || (($o) // 16)), 2 * (($o) % 16) + 1, 2)"

  /** Content byte `o` as BIGINT in [0, 255]. */
  private def byteAt(id: String, o: String): String =
    s"CAST(concat('0x', ${hexAt(id, o)}) AS BIGINT)"

  private val ImgsCte =
    """imgs AS (
      |  SELECT i AS media_id,
      |    8 + 4 * ((i // 3) % 3) AS w,
      |    4 + 2 * ((i // 3) % 2) AS h
      |  FROM range(0, 64) t(i) WHERE i % 3 = 0)""".stripMargin

  private val AudsCte =
    """auds AS (
      |  SELECT i AS media_id, 120 + 8 * ((i // 3) % 5) AS ns
      |  FROM range(0, 64) t(i) WHERE i % 3 = 1)""".stripMargin

  /** Emulated-float32 Rec.601 luma of the pixel whose first byte offset
    * is `o` — the exact association order of Codecs.Ppm.luma. */
  private def lumaF32(id: String, o: String): String =
    s"""((CAST('0.299' AS FLOAT) * CAST(${byteAt(id, o)} AS FLOAT)
       | + CAST('0.587' AS FLOAT) * CAST(${byteAt(id, s"($o) + 1")} AS FLOAT))
       | + CAST('0.114' AS FLOAT) * CAST(${byteAt(id, s"($o) + 2")} AS FLOAT))
       | / CAST(255 AS FLOAT)""".stripMargin.replace("\n", "")

  /** q_media_resize: rebuild the re-encoded 4×2 PPM container's hex
    * (ASCII header + 24 nearest-neighbor-selected source bytes) and md5
    * it — must equal Spark's md5(lower(hex(payload))). */
  private def mediaResizeOracleSql: String = {
    val hdrHex = "P6\n4 2\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      .map("%02x".format(_)).mkString
    s"""WITH $ImgsCte,
       |grid AS (
       |  SELECT media_id, k,
       |    (((k // 12) * h // 2) * w + ((k % 12) // 3) * w // 4) * 3 + (k % 3) AS o
       |  FROM imgs, range(0, 24) g(k)),
       |hx AS (
       |  SELECT media_id, k, ${hexAt("media_id", "o")} AS h2
       |  FROM grid),
       |pay AS (
       |  SELECT media_id, '$hdrHex' || string_agg(h2, '' ORDER BY k) AS ph
       |  FROM hx GROUP BY media_id)
       |SELECT media_id, CAST(4 AS INT) AS out_width, CAST(2 AS INT) AS out_height,
       |  CAST(8 AS INT) AS n_pixels, md5(ph) AS payload_hex_md5
       |FROM pay ORDER BY media_id""".stripMargin
  }

  /** Shared oracle for q_media_phash (kindMod 0: 8×8 luma raster) and
    * q_media_ahash (kindMod 1: 64-window PCM envelope): 64 values →
    * above-mean bit packing (two's-complement bit 63, the q_ahash_bits
    * device) → ALL-PAIRS popcount neighbor counts. */
  private def mediaHashOracleSql(kindMod: Int, maxDist: Int): String = {
    val valsCte =
      if (kindMod == 0)
        s"""$ImgsCte,
           |vals AS (
           |  SELECT media_id, p AS idx,
           |    CAST(${lumaF32("media_id", "o")} AS DOUBLE) AS v
           |  FROM (
           |    SELECT media_id, p,
           |      (((p // 8) * h // 8) * w + (p % 8) * w // 8) * 3 AS o
           |    FROM imgs, range(0, 64) g(p)) q)""".stripMargin
      else
        s"""$AudsCte,
           |sv AS (
           |  SELECT media_id, ns, s,
           |    abs(CASE WHEN v0 >= 32768 THEN v0 - 65536 ELSE v0 END) AS av
           |  FROM (
           |    SELECT media_id, ns, s,
           |      ${byteAt("media_id", "2 * s")} + 256 * ${byteAt("media_id", "2 * s + 1")} AS v0
           |    FROM auds, range(0, 152) g(s) WHERE s < ns) q),
           |vals AS (
           |  SELECT w.media_id, w.b AS idx,
           |    CAST(CAST(CAST(SUM(sv.av) AS DOUBLE) / CAST(32768 AS DOUBLE) / COUNT(*) AS FLOAT) AS DOUBLE) AS v
           |  FROM (SELECT media_id, ns, b FROM auds, range(0, 64) gb(b)) w
           |  JOIN sv ON sv.media_id = w.media_id
           |    AND sv.s >= (w.b * w.ns) // 64 AND sv.s < ((w.b + 1) * w.ns) // 64
           |  GROUP BY w.media_id, w.b)""".stripMargin
    s"""WITH $valsCte,
       |mn AS (SELECT media_id, SUM(v) / 64 AS m FROM vals GROUP BY media_id),
       |h AS (
       |  SELECT vals.media_id,
       |    CAST(SUM(CASE WHEN v > m THEN
       |      CASE WHEN idx = 63 THEN -9223372036854775807 - 1
       |           ELSE CAST(1 AS BIGINT) << idx END ELSE 0 END) AS BIGINT) AS phash
       |  FROM vals JOIN mn USING (media_id) GROUP BY vals.media_id),
       |p AS (
       |  SELECT a.media_id AS id_a, b.media_id AS id_b
       |  FROM h a JOIN h b ON a.media_id < b.media_id
       |  WHERE bit_count(xor(a.phash, b.phash)) <= $maxDist),
       |c AS (
       |  SELECT media_id, CAST(count(*) AS BIGINT) AS n_near FROM (
       |    SELECT id_a AS media_id FROM p UNION ALL SELECT id_b FROM p) u
       |  GROUP BY media_id)
       |SELECT h.media_id, h.phash, coalesce(c.n_near, CAST(0 AS BIGINT)) AS n_near
       |FROM h LEFT JOIN c USING (media_id) ORDER BY media_id""".stripMargin
  }

  /** q_media_features: per-kind decoded-value count and mean — image
    * luma (float32), audio signed PCM/32768 (exact), video Y-plane
    * byte/255f — unioned over all 64 media rows. */
  private def mediaFeaturesOracleSql: String =
    s"""WITH $ImgsCte,
       |$AudsCte,
       |ilum AS (
       |  SELECT media_id, CAST(w * h AS BIGINT) AS n,
       |    SUM(CAST(${lumaF32("media_id", "p * 3")} AS DOUBLE)) AS sv
       |  FROM (SELECT media_id, w, h, p FROM imgs, range(0, 96) g(p) WHERE p < w * h) q
       |  GROUP BY media_id, w * h),
       |afeat AS (
       |  SELECT media_id, CAST(ns AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN v0 >= 32768 THEN v0 - 65536 ELSE v0 END) AS DOUBLE)
       |      / CAST(32768 AS DOUBLE) / ns AS mean_value
       |  FROM (
       |    SELECT media_id, ns, s,
       |      ${byteAt("media_id", "2 * s")} + 256 * ${byteAt("media_id", "2 * s + 1")} AS v0
       |    FROM auds, range(0, 152) g(s) WHERE s < ns) q
       |  GROUP BY media_id, ns),
       |vlum AS (
       |  SELECT media_id, CAST(960 AS BIGINT) AS n,
       |    SUM(CAST(CAST(${byteAt("media_id", "(k // 32) * 48 + (k % 32)")} AS FLOAT)
       |      / CAST(255 AS FLOAT) AS DOUBLE)) AS sv
       |  FROM (SELECT i AS media_id FROM range(0, 64) t(i) WHERE i % 3 = 2) v,
       |    range(0, 960) g(k)
       |  GROUP BY media_id)
       |SELECT media_id, 'image' AS kind, 'image' AS kind_detected, TRUE AS meta_ok,
       |  CAST(n AS INT) AS n_values, sv / n AS mean_value FROM ilum
       |UNION ALL SELECT media_id, 'audio', 'audio', TRUE, CAST(n AS INT), mean_value FROM afeat
       |UNION ALL SELECT media_id, 'video', 'video', TRUE, CAST(n AS INT), sv / n FROM vlum
       |ORDER BY media_id""".stripMargin
}

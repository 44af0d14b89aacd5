package graft.catalog

import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}
import graft.ops.Multimodal

/** Multimodal-column queries: binary payload → typed metadata through
  * the partition-wise (stub) decoder, and frame sampling over the
  * decoded metadata. The oracle reproduces the stub's deterministic
  * arithmetic from the text byte length.
  */
object MultimodalMeta {

  private val metaCte =
    """m AS (SELECT doc_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      |  FROM documents),
      |meta AS (SELECT doc_id, media_type, n_bytes,
      |  CASE media_type WHEN 'audio' THEN 0 ELSE 64 + n_bytes % 577 END AS width,
      |  CASE media_type WHEN 'audio' THEN 0 ELSE 64 + (n_bytes * 31) % 577 END AS height,
      |  CASE media_type WHEN 'video' THEN n_bytes // 100 + 1 ELSE 1 END AS n_frames,
      |  CASE media_type WHEN 'image' THEN 'png' WHEN 'audio' THEN 'wav' ELSE 'mp4' END AS format
      |  FROM m)""".stripMargin

  val decodeMeta: QueryDef = QueryDef.sql("q_mm_decode_meta")(
    s"""WITH $metaCte
       |SELECT doc_id, media_type, n_bytes, width, height, n_frames, format
       |FROM meta ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val media = Multimodal.mediaFromDocuments(s, Tables.documents(s, dir))
    Multimodal.decodeMeta(media).toDF().orderBy("doc_id")
  }

  val frameSample: QueryDef = QueryDef.sql("q_mm_frame_sample")(
    s"""WITH $metaCte,
       |f AS (SELECT doc_id, UNNEST(range(0, n_frames, 5)) AS frame_idx
       |      FROM meta WHERE media_type = 'video')
       |SELECT doc_id, frame_idx FROM f ORDER BY doc_id, frame_idx""".stripMargin) {
    (s, dir) =>
      val media = Multimodal.mediaFromDocuments(s, Tables.documents(s, dir))
      Multimodal.sampleFrames(Multimodal.decodeMeta(media), 5)
        .orderBy("doc_id", "frame_idx")
  }

  // Feature extraction stub: first-8-byte embedding, exact byte/255
  // float division reproduced by the oracle from codepoints (ASCII
  // corpus → codepoint == UTF-8 byte), surfaced as a flattened column
  // per dimension for stable hashing.
  val features: QueryDef = QueryDef.sql("q_mm_features")(
    s"""SELECT doc_id,
       |  ${(0 until 8).map(i =>
            s"CAST(CASE WHEN length(text) >= ${i + 1} " +
              s"THEN CAST(unicode(substr(text, ${i + 1}, 1)) AS FLOAT) / CAST(255 AS FLOAT) " +
              s"ELSE CAST(0 AS FLOAT) END AS DOUBLE) AS f_$i")
            .mkString(",\n  ")}
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val media = Multimodal.mediaFromDocuments(s, Tables.documents(s, dir))
    Multimodal.extractFeatures(media)
      .select(col("doc_id") +:
        (0 until 8).map(i =>
          element_at(col("features"), i + 1).cast("double").as(s"f_$i")): _*)
      .orderBy("doc_id")
  }

  // Resize stub: aspect-preserving integer downscale to max side 256.
  val resize: QueryDef = QueryDef.sql("q_mm_resize")(
    s"""WITH $metaCte
       |SELECT doc_id, media_type, width, height,
       |  CASE WHEN greatest(width, height) <= 256 OR greatest(width, height) = 0
       |       THEN width ELSE width * 256 // greatest(width, height) END AS rs_width,
       |  CASE WHEN greatest(width, height) <= 256 OR greatest(width, height) = 0
       |       THEN height ELSE height * 256 // greatest(width, height) END AS rs_height
       |FROM meta ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val media = Multimodal.mediaFromDocuments(s, Tables.documents(s, dir))
    Multimodal.resizeMeta(Multimodal.decodeMeta(media), 256)
      .orderBy("doc_id")
  }

  // Cross-modal retrieval pipeline: media rows (decoded metadata) look
  // up their embedding (vec_id == doc_id in the testdata) and fetch
  // their top-3 cosine neighbors from the full embedding corpus — the
  // media→embedding→ANN stitch a multimodal training pipeline runs for
  // near-dup images or retrieval-augmented captioning. Query side
  // broadcasts (tiny), corpus side streams once.
  val retrieval: QueryDef = QueryDef.sql("q_mm_retrieval")(
    s"""WITH $metaCte,
       |n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |        sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |                              CAST(embedding AS DOUBLE[]))) AS nrm
       |      FROM embeddings),
       |q AS (SELECT meta.doc_id, meta.media_type, n.v AS qv, n.nrm AS qnrm
       |      FROM meta JOIN n ON n.vec_id = meta.doc_id WHERE meta.doc_id < 20),
       |scored AS (
       |  SELECT q.doc_id, q.media_type, n.vec_id AS neighbor_id,
       |    list_dot_product(qv, v) / (qnrm * nrm) AS cosine
       |  FROM q CROSS JOIN n WHERE n.vec_id <> q.doc_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |  (PARTITION BY doc_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM scored)
       |SELECT doc_id, media_type, neighbor_id, cosine, rnk FROM ranked
       |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    import graft.ops.Vectors
    val media = Multimodal.decodeMeta(
        Multimodal.mediaFromDocuments(s, Tables.documents(s, dir)))
      .toDF().select("doc_id", "media_type")
    val n = SimilaritySearch.normed(s, dir)
    val q = media.filter(col("doc_id") < 20)
      .join(n, col("vec_id") === col("doc_id"))
      .select(col("doc_id"), col("media_type"),
        col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = broadcast(q).crossJoin(n)
      .filter(col("vec_id") =!= col("doc_id"))
      .select(col("doc_id"), col("media_type"), col("vec_id").as("neighbor_id"),
        Vectors.cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cosine"))
    val w = Window.partitionBy("doc_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("doc_id", "media_type", "neighbor_id", "cosine", "rnk")
      .orderBy("doc_id", "rnk")
  }

  // Image-content near-dup: every image-typed doc renders to a REAL
  // 8×8 grayscale PNG (pixel (r,c) = text byte (r·8+c) mod len — the
  // corpus stand-in for stored image files), is decoded back through
  // ImageIO, and hashed with the two-direction 112-bit gradient dHash
  // (ops/ImageHash.dhash112: 56 horizontal + 56 vertical comparison
  // bits). Near-dups join on 7×16-bit hash bands — pigeonhole makes
  // the banded candidate set lossless for the 112-bit hamming ≤ 6
  // verify (the q_simhash60_neardup argument), so the plan never
  // compares pixel pairs across docs and shuffles only 16-byte
  // signatures. Widened from 56 bits / 8-bit bands in r17: the 8-bit
  // bands admitted ~n²/256 candidates per band — 1.31B candidate
  // pairs measured at sf10 — making the join, not the hashing, the
  // scale term; 16-bit bands cut the collision rate 256×. The oracle
  // rebuilds the sample values from codepoints (pure-ASCII corpus:
  // byte == unicode(char)) — PNG grayscale is lossless, so the Spark
  // side's encode → decode → hash matches exactly.
  val imageNearDup: QueryDef = QueryDef.pinned("q_image_neardup")(
    """WITH img AS (SELECT doc_id, text FROM documents
      |             WHERE doc_id % 3 = 0 AND length(text) > 0),
      |hb AS (SELECT doc_id,
      |         SUM(CASE WHEN unicode(substr(text, ((k+1) % length(text)) + 1, 1)) >
      |                       unicode(substr(text, (k % length(text)) + 1, 1))
      |              THEN 1::BIGINT ELSE 0::BIGINT END
      |           << ((k // 8) * 7 + (k % 8)))::BIGINT AS h
      |       FROM img CROSS JOIN (SELECT UNNEST(generate_series(0, 62)) AS k) kk
      |       WHERE k % 8 <> 7 GROUP BY doc_id),
      |vb AS (SELECT doc_id,
      |         SUM(CASE WHEN unicode(substr(text, ((k+8) % length(text)) + 1, 1)) >
      |                       unicode(substr(text, (k % length(text)) + 1, 1))
      |              THEN 1::BIGINT ELSE 0::BIGINT END
      |           << ((k % 8) * 7 + (k // 8)))::BIGINT AS v
      |       FROM img CROSS JOIN (SELECT UNNEST(generate_series(0, 55)) AS k) kk
      |       GROUP BY doc_id),
      |sig AS (SELECT hb.doc_id, h, v FROM hb JOIN vb ON hb.doc_id = vb.doc_id),
      |ex AS (SELECT doc_id, h, v, bnd AS band_idx,
      |         CASE WHEN bnd <= 2 THEN (h >> (16 * bnd)) & 65535
      |              WHEN bnd = 3 THEN ((h >> 48) & 255) | ((v & 255) << 8)
      |              ELSE (v >> (16 * (bnd - 4) + 8)) & 65535 END AS band_val
      |       FROM sig CROSS JOIN (SELECT UNNEST(generate_series(0, 6)) AS bnd) bb),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |                a.h AS h_a, a.v AS v_a, b.h AS h_b, b.v AS v_b
      |         FROM ex a JOIN ex b
      |           ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      |          AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b,
      |  CAST(bit_count(xor(h_a, h_b)) + bit_count(xor(v_a, v_b)) AS BIGINT) AS hamming
      |FROM cand
      |WHERE bit_count(xor(h_a, h_b)) + bit_count(xor(v_a, v_b)) <= 6
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir, pins) =>
    // persist: both band-join sides would otherwise re-render + re-hash
    val sig = pins.persist(graft.ops.ImageHash.dhashes(s, Tables.documents(s, dir)))
    val banded = sig.select(col("doc_id"), col("dhash_h"), col("dhash_v"),
      posexplode(array((0 until graft.ops.ImageHash.Bands).map { i =>
        if (i <= 2)
          shiftright(col("dhash_h"), 16 * i).bitwiseAND(lit(65535L))
        else if (i == 3)
          shiftright(col("dhash_h"), 48).bitwiseAND(lit(255L))
            .bitwiseOR(shiftleft(col("dhash_v").bitwiseAND(lit(255L)), 8))
        else
          shiftright(col("dhash_v"), 16 * (i - 4) + 8).bitwiseAND(lit(65535L))
      }: _*)).as(Seq("band_idx", "band_val")))
    banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.dhash_h").as("h_a"), col("a.dhash_v").as("v_a"),
        col("b.dhash_h").as("h_b"), col("b.dhash_v").as("v_b"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        (bit_count(col("h_a").bitwiseXOR(col("h_b"))) +
          bit_count(col("v_a").bitwiseXOR(col("v_b")))).cast("long").as("hamming"))
      .filter(col("hamming") <= 6)
      .orderBy("doc_a", "doc_b")
  }

  // Audio-content near-dup: every audio-typed doc renders to a REAL
  // RIFF/WAVE file (8-bit unsigned mono PCM, sample k = text byte
  // k mod len — the corpus stand-in for stored audio files), decodes
  // back through AudioSystem, and fingerprints with the two-lag
  // 112-bit frame-energy gradient hash (ops/AudioHash.fingerprint112:
  // adjacent-frame gradient + the lag-2 gradient over the same 57×8
  // frames — lag-2 keeps a one-frame edit within 4 flipped bits,
  // which a polyphase second view would not). Near-dups join on the
  // shared Bands112 7×16-bit bands — pigeonhole makes the banded
  // candidate set lossless for the 112-bit hamming ≤ 6 verify, so the
  // plan never compares waveform pairs across docs and shuffles only
  // 16-byte fingerprints (widened from 56 bits / 8-bit bands in r17:
  // those admitted 747M candidate pairs at sf10; 16-bit bands cut
  // that to a measured 22.3M). The oracle rebuilds the sample values
  // from codepoints (pure-ASCII corpus: byte == unicode(char)) —
  // 8-bit PCM in WAV is lossless, so encode → decode → fingerprint
  // matches exactly. Corpus note: the synthetic corpus produces its
  // first hamming ≤ 6 collisions at sf0.1 (13 pairs); the sf0.01
  // correctness dump is legitimately EMPTY on both engines —
  // non-trivial parity is pinned at sf0.1 (local r17 run) and in the
  // sf10 scale gate, and AudioHashSpec pins the collision semantics
  // on fixtures.
  val audioNearDup: QueryDef = QueryDef.pinned("q_audio_neardup")(
    s"""WITH aud AS (SELECT doc_id, text FROM documents
      |             WHERE doc_id % 3 = 1 AND length(text) > 0),
      |s1 AS (SELECT doc_id, k // 8 AS f,
      |         SUM(unicode(substr(text, (k % length(text)) + 1, 1))) AS fsum
      |       FROM aud CROSS JOIN (SELECT UNNEST(generate_series(0, 455)) AS k) kk
      |       GROUP BY doc_id, f),
      |hb AS (SELECT a.doc_id,
      |         SUM(CASE WHEN a.fsum > p.fsum THEN 1::BIGINT ELSE 0::BIGINT END
      |           << p.f)::BIGINT AS h
      |       FROM s1 a JOIN s1 p ON a.doc_id = p.doc_id AND a.f = p.f + 1
      |       GROUP BY a.doc_id),
      |vb AS (SELECT a.doc_id,
      |         SUM(CASE WHEN a.fsum > p.fsum THEN 1::BIGINT ELSE 0::BIGINT END
      |           << p.f)::BIGINT AS v
      |       FROM s1 a JOIN s1 p ON a.doc_id = p.doc_id AND a.f = p.f + 2
      |       GROUP BY a.doc_id),
      |sig AS (SELECT hb.doc_id, h, v FROM hb JOIN vb ON hb.doc_id = vb.doc_id),
      |ex AS (SELECT doc_id, h, v, bnd AS band_idx,
      |         ${graft.ops.Bands112.bandSql} AS band_val
      |       FROM sig CROSS JOIN (SELECT UNNEST(generate_series(0, 6)) AS bnd) bb),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |                a.h AS h_a, a.v AS v_a, b.h AS h_b, b.v AS v_b
      |         FROM ex a JOIN ex b
      |           ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      |          AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b,
      |  CAST(bit_count(xor(h_a, h_b)) + bit_count(xor(v_a, v_b)) AS BIGINT) AS hamming
      |FROM cand
      |WHERE bit_count(xor(h_a, h_b)) + bit_count(xor(v_a, v_b)) <= 6
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir, pins) =>
    // persist: both band-join sides would otherwise re-render + re-hash
    val sig = pins.persist(graft.ops.AudioHash.fingerprints(s, Tables.documents(s, dir)))
    val banded = sig.select(col("doc_id"), col("fp_h"), col("fp_v"),
      posexplode(array(
        graft.ops.Bands112.bandCols(col("fp_h"), col("fp_v")): _*))
        .as(Seq("band_idx", "band_val")))
    banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.fp_h").as("h_a"), col("a.fp_v").as("v_a"),
        col("b.fp_h").as("h_b"), col("b.fp_v").as("v_b"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        (bit_count(col("h_a").bitwiseXOR(col("h_b"))) +
          bit_count(col("v_a").bitwiseXOR(col("v_b")))).cast("long").as("hamming"))
      .filter(col("hamming") <= 6)
      .orderBy("doc_a", "doc_b")
  }

  // Video-content near-dup: the temporal leg (ops/VideoHash). Decode
  // is the one deliberately-stubbed step (no JDK video codec — payload
  // bytes stand in for the decoded luma stream); everything downstream
  // — the 57 equal time-slices (clips of any length compare on one
  // grid), the two-lag 112-bit MEAN-gradient fingerprint (adjacent +
  // lag-2 slice-mean comparisons by exact integer cross-multiply;
  // sum-gradient bits would let the slice-width pattern, a pure
  // function of len, alias every similar-length pair into a spurious
  // near-dup — measured ~0.2% all-pairs collision vs near-dups-only
  // for means; lag-2 keeps a one-slice edit within 4 flipped bits),
  // the shared Bands112 7×16-bit banded join (pigeonhole-lossless for
  // the 112-bit hamming ≤ 6; the single-lag 8-bit bands admitted
  // 1.11B candidate pairs at sf10, 16-bit bands cut that ~40×) — is
  // the real pipeline a true decoder would feed. Only 16-byte
  // fingerprints shuffle. The oracle rebuilds both lags' bits from
  // codepoints; slices a short clip never reaches read (0, 0) via the
  // LEFT JOIN, matching the Scala arrays' zero-filled slots.
  val videoNearDup: QueryDef = QueryDef.pinned("q_video_neardup")(
    s"""WITH vid AS (SELECT doc_id, text, length(text) AS len
      |             FROM documents WHERE doc_id % 3 = 2 AND length(text) > 0),
      |fe AS (SELECT doc_id, (p * 57) // len AS f,
      |         SUM(unicode(substr(text, p + 1, 1))) AS e, COUNT(*) AS w
      |       FROM vid, UNNEST(generate_series(0, len - 1)) AS t(p)
      |       GROUP BY doc_id, f),
      |g AS (SELECT v.doc_id, j, COALESCE(fe.e, 0) AS e, COALESCE(fe.w, 0) AS w
      |      FROM vid v CROSS JOIN (SELECT UNNEST(generate_series(0, 56)) AS j) jj
      |      LEFT JOIN fe ON fe.doc_id = v.doc_id AND fe.f = j),
      |hb AS (SELECT a.doc_id,
      |         SUM(CASE WHEN a.e * p.w > p.e * a.w THEN 1::BIGINT ELSE 0::BIGINT END
      |           << p.j)::BIGINT AS h
      |       FROM g a JOIN g p ON a.doc_id = p.doc_id AND a.j = p.j + 1
      |       GROUP BY a.doc_id),
      |vb AS (SELECT a.doc_id,
      |         SUM(CASE WHEN a.e * p.w > p.e * a.w THEN 1::BIGINT ELSE 0::BIGINT END
      |           << p.j)::BIGINT AS v
      |       FROM g a JOIN g p ON a.doc_id = p.doc_id AND a.j = p.j + 2
      |       GROUP BY a.doc_id),
      |sig AS (SELECT hb.doc_id, h, v FROM hb JOIN vb ON hb.doc_id = vb.doc_id),
      |ex AS (SELECT doc_id, h, v, bnd AS band_idx,
      |         ${graft.ops.Bands112.bandSql} AS band_val
      |       FROM sig CROSS JOIN (SELECT UNNEST(generate_series(0, 6)) AS bnd) bb),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |                a.h AS h_a, a.v AS v_a, b.h AS h_b, b.v AS v_b
      |         FROM ex a JOIN ex b
      |           ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      |          AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b,
      |  CAST(bit_count(xor(h_a, h_b)) + bit_count(xor(v_a, v_b)) AS BIGINT) AS hamming
      |FROM cand
      |WHERE bit_count(xor(h_a, h_b)) + bit_count(xor(v_a, v_b)) <= 6
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir, pins) =>
    // persist: both band-join sides would otherwise re-carve + re-hash
    val sig = pins.persist(graft.ops.VideoHash.fingerprints(s, Tables.documents(s, dir)))
    val banded = sig.select(col("doc_id"), col("fp_h"), col("fp_v"),
      posexplode(array(
        graft.ops.Bands112.bandCols(col("fp_h"), col("fp_v")): _*))
        .as(Seq("band_idx", "band_val")))
    banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.fp_h").as("h_a"), col("a.fp_v").as("v_a"),
        col("b.fp_h").as("h_b"), col("b.fp_v").as("v_b"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        (bit_count(col("h_a").bitwiseXOR(col("h_b"))) +
          bit_count(col("v_a").bitwiseXOR(col("v_b")))).cast("long").as("hamming"))
      .filter(col("hamming") <= 6)
      .orderBy("doc_a", "doc_b")
  }

  val all: Seq[QueryDef] =
    Seq(decodeMeta, frameSample, features, resize, retrieval, imageNearDup,
      audioNearDup, videoNearDup)
}

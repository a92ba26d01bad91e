package graft.queries

import graft.core.Tables
import graft.ops.Multimodal
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (BASELINE north star): binary payloads +
  * relational metadata. The decode itself is the stubbed `mapPartitions` pass
  * in `graft.ops.Multimodal` (exercised by unit tests); this query checks the
  * engine-portable binary/metadata layer. */
object MultimodalQs {

  val qs: Seq[Q] = Seq(
    Q("mm1_binary_metadata",
      (s, d) => Multimodal.asBinaryTable(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("byte_len"), col("checksum"),
          substring(col("checksum"), 1, 2).as("shard")),
      Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
             |md5(text) AS checksum, substr(md5(text), 1, 2) AS shard
             |FROM documents""".stripMargin)),

    // MM2: frame sampling over an opaque binary payload — split into 256-byte
    // frames, keep every 3rd, checksum each. All Spark-side work is on real
    // BINARY (substring/md5 over bytes); the oracle spells the same bytes via
    // encode/decode since DuckDB's md5 is VARCHAR-only (payloads are ASCII).
    Q("mm2_frame_sample",
      (s, d) => Multimodal.asBinaryTable(Tables.documents(s, d), "doc_id", "text")
        .filter(col("byte_len") > 0)
        .withColumn("frame_no",
          explode(sequence(lit(0), ((col("byte_len") - 1) / 256).cast("int"))))
        .filter(col("frame_no") % 3 === 0)
        .select(col("doc_id"), col("frame_no").cast("long").as("frame_no"),
          md5(expr("substring(payload, frame_no * 256 + 1, 256)")).as("frame_md5"),
          octet_length(expr("substring(payload, frame_no * 256 + 1, 256)"))
            .cast("long").as("frame_bytes")),
      // DuckDB has no BLOB substring; the payloads are pure ASCII (asserted:
      // octet_length(encode(text)) == length(text) corpus-wide), so VARCHAR
      // character slicing addresses the same bytes.
      Some("""WITH fr AS (
             |  SELECT doc_id, text,
             |    unnest(range((octet_length(encode(text)) - 1) // 256 + 1)) AS frame_no
             |  FROM documents WHERE octet_length(encode(text)) > 0)
             |SELECT doc_id, CAST(frame_no AS BIGINT) AS frame_no,
             |  md5(substring(text, CAST(frame_no * 256 + 1 AS INT), 256)) AS frame_md5,
             |  CAST(octet_length(encode(substring(text, CAST(frame_no * 256 + 1 AS INT), 256))) AS BIGINT) AS frame_bytes
             |FROM fr WHERE frame_no % 3 = 0""".stripMargin)),

    // MM3: the decode seat itself — the typed mapPartitions stub pipeline
    // (one decoder init per partition, row-batched) gated through the oracle:
    // the stub's fake dimensions are pure functions of the leading payload
    // bytes, so SQL over the text recomputes them exactly.
    Q("mm3_decode_meta",
      (s, d) => Multimodal.decodeStub(s,
          Multimodal.asBinaryTable(Tables.documents(s, d), "doc_id", "text"), "doc_id")
        .toDF()
        .select(col("docId").as("doc_id"), col("byteLen").as("byte_len"),
          col("format"), col("width"), col("height")),
      Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
             |  CASE WHEN ascii(substr(text, 1, 1)) % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
             |  64 + ascii(substr(text, 1, 1)) % 64 AS width,
             |  64 + ascii(substr(text, 2, 1)) % 64 AS height
             |FROM documents""".stripMargin)),

    // MM4: frame-level near-dup — the video-dedup pattern over the decode
    // seat: per frame a perceptual-feature stand-in (4-class char
    // histogram), cell-blocked cross-doc candidates, L1-verified, rolled
    // up per doc pair. Deterministic end to end, so the oracle replays the
    // whole block-and-verify exactly.
    Q("mm4_frame_neardup",
      (s, d) => Multimodal.frameNearDups(Tables.documents(s, d), "doc_id", "text"),
      Some("""WITH fr AS (
             |  SELECT doc_id,
             |    unnest(range((length(text) - 1) // 256 + 1)) AS frame_no,
             |    text
             |  FROM documents WHERE length(text) > 0),
             |feat AS (
             |  SELECT doc_id, frame_no, f,
             |    length(f) - length(regexp_replace(f, '[a-i]', '', 'g')) AS h1,
             |    length(f) - length(regexp_replace(f, '[j-r]', '', 'g')) AS h2,
             |    length(f) - length(regexp_replace(f, '[s-z]', '', 'g')) AS h3,
             |    length(regexp_replace(f, '[a-z]', '', 'g')) AS h4
             |  FROM (SELECT doc_id, frame_no,
             |          substring(text, CAST(frame_no * 256 + 1 AS INT), 256) AS f
             |        FROM fr)),
             |cells AS MATERIALIZED (
             |  SELECT doc_id, frame_no, h1, h2, h3, h4,
             |    CAST(h1 // 4 AS VARCHAR) || '|' || CAST(h2 // 4 AS VARCHAR) || '|' ||
             |    CAST(h3 // 4 AS VARCHAR) || '|' || CAST(h4 // 4 AS VARCHAR) AS cell
             |  FROM feat)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  CAST(COUNT(*) AS BIGINT) AS n_near_frames
             |FROM cells a JOIN cells b
             |  ON a.cell = b.cell AND a.doc_id < b.doc_id
             |WHERE abs(a.h1 - b.h1) + abs(a.h2 - b.h2)
             |    + abs(a.h3 - b.h3) + abs(a.h4 - b.h4) <= 2
             |GROUP BY 1, 2""".stripMargin))
  )
}

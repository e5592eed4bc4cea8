"""MapReduce-facade + multimodal query inventory.

The ``*_mr`` queries run the reference's programming model through
``mapreduce.run_job`` and reproduce its stringly-typed output semantics
(every key/value coerced to str at the shuffle, ``worker.py:137-138``;
reduce values arrive as strings — so the inverted index collects
*string* doc ids and sorts lexicographically, exactly what the
reference's own tests parse back with ``ast.literal_eval``,
``test.py:99-101``). The oracles mirror that coercion in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_project_spark.jobs import inverted_index_mr as ii
from mapreduce_project_spark.jobs import word_count_mr as wc
from mapreduce_project_spark.mapreduce import run_job
from mapreduce_project_spark.operators.multimodal import attach_payload, byte_features
from mapreduce_project_spark.queries_registry import query, t


def _docs_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("key"), F.col("text").alias("value")
    )


@query(
    "word_count_mr",
    """
    SELECT word AS key, CAST(COUNT(*) AS VARCHAR) AS value
    FROM (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM documents
    )
    GROUP BY word
    """,
)
def q_word_count_mr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4-A9 facade: word count through run_job (map emits (word,1),
    reduce sums) — differentially equal to the native `word_count`."""
    return run_job(spark, _docs_kv(spark, sf_dir), wc.mr_map, wc.mr_reduce, num_partitions=8)


@query(
    "inverted_index_mr",
    """
    SELECT word AS key,
           '[' || array_to_string(
                    list_transform(list_sort(list(DISTINCT CAST(doc_id AS VARCHAR))),
                                   x -> '''' || x || ''''), ', ')
               || ']' AS value
    FROM (
      SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text), '[a-z]+'))) AS word
      FROM documents
    )
    GROUP BY word
    """,
)
def q_inverted_index_mr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4-A9 facade: inverted index through run_job. Doc ids are strings
    at the shuffle (reference type-erasure), so postings sort
    lexicographically and serialize as a Python list repr — the oracle
    reconstructs that exact string. Pytest-only slot: `word_count_mr`
    carries the facade's driver signal; this second facade job is
    oracle-checked in tests plus the local-executor differential
    (tests/test_mapreduce_facade.py)."""
    return run_job(spark, _docs_kv(spark, sf_dir), ii.mr_map, ii.mr_reduce, num_partitions=8)


@query(
    "multimodal_meta",
    """
    SELECT doc_id,
           ['png','jpg','wav'][(doc_id % 3 + 1)] AS format,
           64 * (doc_id % 16 + 1) AS width,
           64 * ((doc_id // 16) % 16 + 1) AS height,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: binary payload + typed metadata struct (format/width/height/
    n_bytes); the payload itself stays out of the comparison (opaque)."""
    df = attach_payload(t(spark, sf_dir, "documents"))
    return df.select(
        "doc_id",
        F.col("media.format").alias("format"),
        F.col("media.width").alias("width"),
        F.col("media.height").alias("height"),
        F.col("media.n_bytes").alias("n_bytes"),
    )


@query(
    "multimodal_byte_features",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(COALESCE(list_sum(list_transform(string_split(text, ''), x -> ord(x))), 0)
                AS BIGINT) AS byte_sum,
           CASE WHEN octet_length(encode(text)) > 0
                THEN CAST(COALESCE(list_sum(list_transform(string_split(text, ''), x -> ord(x))), 0)
                          AS DOUBLE) / octet_length(encode(text))
                ELSE 0.0 END AS mean_byte,
           CAST((octet_length(encode(text)) + 255) // 256 AS BIGINT) AS n_frames
    FROM documents
    """,
)
def q_multimodal_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: Arrow-batched mapInPandas feature extraction over the binary
    payload (frame counting = the video frame-sample analog), numpy-
    vectorized inside the batch. HASH-CHECKED: the payload is the UTF-8
    encoding of ``text`` (pure ASCII in the fixtures — verified), so the
    oracle recomputes the byte statistics with per-character ``ord``;
    the mean divides the same integers in the same order, so doubles are
    bit-identical."""
    return byte_features(attach_payload(t(spark, sf_dir, "documents")))


@query(
    "multimodal_downsample",
    """
    SELECT doc_id, block,
           CAST(list_sum(list_transform(
                  string_split(substr(text, CAST(s AS INTEGER) + 1,
                                      CAST(e - s AS INTEGER)), ''),
                  x -> ord(x))) AS DOUBLE) / (e - s) AS val
    FROM (
      SELECT doc_id, text, j AS block,
             (j * octet_length(encode(text))) // 32 AS s,
             ((j + 1) * octet_length(encode(text))) // 32 AS e
      FROM documents, (SELECT unnest(generate_series(0, 31)) AS j)
    )
    WHERE e > s
    """,
)
def q_multimodal_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 resize analog: block-mean byte downsampling to 32 values per
    payload (the image-thumbnail / audio-resample plumbing), numpy-
    vectorized over the Arrow batch. HASH-CHECKED like
    `multimodal_byte_features`: the payload is the UTF-8 bytes of pure-
    ASCII ``text``, so the oracle recomputes each block mean with
    per-character ``ord`` and one double division — bit-identical.
    Pytest-only slot: the mapInPandas machinery already carries driver
    signal via `multimodal_byte_features`."""
    from mapreduce_project_spark.operators.multimodal import downsample_bytes

    out = downsample_bytes(attach_payload(t(spark, sf_dir, "documents")))
    return out.select("doc_id", "block", "val")


@query(
    "multimodal_header_probe",
    """
    SELECT doc_id,
           'png' AS format,
           CAST(64 * (doc_id % 16 + 1) AS BIGINT) AS width,
           CAST(64 * ((doc_id // 16) % 16 + 1) AS BIGINT) AS height
    FROM documents
    """,
)
def q_multimodal_header_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode→parse roundtrip over REAL container headers: each doc's
    (width, height) metadata is serialized into genuine PNG bytes
    (magic + IHDR) with pure JVM binary expressions, then
    `media_header_probe` (`operators/multimodal.py`) parses the headers
    back Arrow-batched — the oracle recomputes the expected dims
    directly, so a value match proves serializer and parser are exact
    inverses on every row. Header-only work: no pixel decode, no
    shuffle, payloads never leave their partition."""
    from mapreduce_project_spark.operators.multimodal import (
        attach_payload,
        media_header_probe,
    )

    docs = attach_payload(t(spark, sf_dir, "documents"))
    be32 = lambda c: F.unhex(F.lpad(F.hex(c.cast("bigint")), 8, "0"))  # noqa: E731
    png = F.concat(
        F.unhex(F.lit("89504E470D0A1A0A")),           # magic
        F.unhex(F.lit("0000000D49484452")),           # IHDR length + tag
        be32(F.col("media.width")),
        be32(F.col("media.height")),
        F.unhex(F.lit("0802000000")),                 # bit depth etc.
    )
    probed = media_header_probe(
        docs.select("doc_id", png.alias("payload"))
    )
    return probed.select("doc_id", "format", "width", "height")


_PATCHIFY_ORACLE = """
    WITH base AS (
      SELECT doc_id, text,
             octet_length(encode(text)) AS n,
             CAST(64 * (doc_id % 16 + 1) AS BIGINT) AS w
      FROM documents
    ),
    dims AS (SELECT *, (n + w - 1) // w AS h FROM base WHERE n > 0),
    grid AS (
      SELECT doc_id, text, n, w, h, pr, pc
      FROM dims,
           (SELECT unnest(generate_series(0, 63)) AS pr),
           (SELECT unnest(generate_series(0, 63)) AS pc)
      WHERE pr < (h + 15) // 16 AND pc < (w + 15) // 16
    )
    SELECT doc_id, pr AS patch_row, pc AS patch_col,
           CAST(COALESCE(list_sum(list_transform(
                  generate_series(pr*16, LEAST(pr*16 + 15, h - 1)),
                  r -> GREATEST(LEAST(16, w - pc*16,
                                      n - r*w - pc*16), 0))), 0) AS BIGINT)
             AS n_real,
           CAST(COALESCE(list_sum(list_transform(
                  generate_series(pr*16, LEAST(pr*16 + 15, h - 1)),
                  -- string_split('','') yields [''] with ord = -1, so
                  -- zero-length row segments must short-circuit to 0
                  r -> CASE WHEN GREATEST(LEAST(16, w - pc*16,
                                                n - r*w - pc*16), 0) > 0
                       THEN COALESCE(list_sum(list_transform(
                              string_split(substr(text,
                                  CAST(r*w + pc*16 AS INTEGER) + 1,
                                  CAST(GREATEST(LEAST(16, w - pc*16,
                                                      n - r*w - pc*16), 0)
                                       AS INTEGER)),
                                  ''),
                              x -> ord(x))), 0)
                       ELSE 0 END)), 0) AS BIGINT)
             AS byte_sum
    FROM grid
    """


@query("multimodal_patchify", _PATCHIFY_ORACLE)
def q_multimodal_patchify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 ViT patch tokenization: each payload interpreted as a
    row-major byte image of its metadata width, cut into a 16×16
    non-overlapping patch grid (`operators/multimodal.py:patchify`) —
    one row per patch with zero-padded patch bytes plus (n_real,
    byte_sum). HASH-CHECKED via the ASCII-payload trick: the oracle
    replays the grid arithmetic per cell with substr + per-character
    ord (n_real from pure coordinate math, byte_sum summing exactly
    the real bytes — pads contribute 0 on both engines). The fixed-
    size `patch` tensor column itself is covered by the pytest
    consistency check (its bytes must sum to byte_sum)."""
    from mapreduce_project_spark.operators.multimodal import patchify

    out = patchify(attach_payload(t(spark, sf_dir, "documents")))
    return out.select("doc_id", "patch_row", "patch_col", "n_real", "byte_sum")


@query(
    "orders_xml_roundtrip",
    """
    SELECT o_orderkey,
           o_orderpriority AS priority,
           CAST(o_totalprice AS DOUBLE) AS totalprice
    FROM orders
    """,
)
def q_orders_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion (Spark 4 native): every order serialized to an
    XML record with ``to_xml`` and parsed back with a typed
    ``from_xml`` schema in the same plan — the oracle recomputes the
    expected fields directly from the source table, so a value match
    proves serializer and parser are exact inverses on every row
    (the `multimodal_header_probe` roundtrip pattern applied to the
    semi-structured text format legacy feeds actually use; file-level
    twins: `sources/io.py:read_xml/write_xml`). Zero shuffle: two
    codegen'd projections."""
    o = t(spark, sf_dir, "orders")
    xml = F.expr(
        "to_xml(named_struct('k', o_orderkey, 'p', o_orderpriority, "
        "'t', CAST(o_totalprice AS DOUBLE)))"
    )
    parsed = F.from_xml(xml, "k BIGINT, p STRING, t DOUBLE")
    return o.select(parsed.alias("r")).select(
        F.col("r.k").alias("o_orderkey"),
        F.col("r.p").alias("priority"),
        F.col("r.t").alias("totalprice"),
    )


@query(
    "multimodal_decode_roundtrip",
    """
    SELECT doc_id,
           CAST(16 AS BIGINT) AS width,
           CAST(ceil(octet_length(CAST(text AS BLOB)) / 48.0) AS BIGINT) AS height,
           48 * CAST(ceil(octet_length(CAST(text AS BLOB)) / 48.0) AS BIGINT)
             AS n_values,
           CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(COALESCE(list_aggregate(list_transform(
                       string_split(text, ''), c -> ord(c)), 'sum'), 0) AS BIGINT)
           END AS byte_sum
    FROM documents
    """,
)
def q_multimodal_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 pixel-path closure, oracle-checked END TO END: each document
    is encoded in-query into a REAL binary P6 PPM (width 16, pixels =
    the UTF-8 text bytes zero-padded to the raster), run through the
    real pixel decoder (`operators/multimodal.py:decode_media` — header
    parse + raster extraction, no media libs), and the decoded canon
    is reduced to integer statistics the DuckDB oracle recomputes from
    the TEXT alone (fixture text is pure ASCII, so byte sum ≡ codepoint
    sum): dims from the encode geometry, byte_sum over the decoded
    raster (zero pads contribute nothing). A wrong header parse, row
    layout, or pad handling breaks the hash. Both media stages are
    narrow Arrow-batched ``mapInPandas`` — payloads never shuffle; the
    final stats join is id-keyed on already-tiny rows."""
    from collections.abc import Iterator

    import pandas as pd

    from mapreduce_project_spark.operators.multimodal import (
        byte_features,
        decode_media,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for txt in pdf["text"]:
                b = str(txt).encode("utf-8")
                h = -(-len(b) // 48)  # 16 px/row × 3 channels = 48 B/row
                payloads.append(
                    b"P6\n16 %d\n255\n" % h + b + b"\x00" * (48 * h - len(b))
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy(), "payload": payloads})

    enc = docs.mapInPandas(encode, "doc_id long, payload binary")
    dec = decode_media(enc)
    stats = byte_features(dec.select("doc_id", F.col("data").alias("payload")))
    return dec.select("doc_id", "width", "height", "n_values").join(
        stats.select("doc_id", "byte_sum"), "doc_id"
    )


@query(
    "multimodal_png_roundtrip",
    """
    SELECT doc_id,
           CAST(16 AS BIGINT) AS width,
           CAST(ceil(octet_length(CAST(text AS BLOB)) / 48.0) AS BIGINT) AS height,
           48 * CAST(ceil(octet_length(CAST(text AS BLOB)) / 48.0) AS BIGINT)
             AS n_values,
           CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(COALESCE(list_aggregate(list_transform(
                       string_split(text, ''), c -> ord(c)), 'sum'), 0) AS BIGINT)
           END AS byte_sum
    FROM documents
    """,
)
def q_multimodal_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 COMPRESSED-pixel-path closure (VERDICT r4 task 2), oracle-
    checked end to end: each document's bytes become a real deflate-
    compressed PNG (`operators/multimodal.py:png_encode` — scanlines
    filtered on the y%5 cycle so ALL FIVE spec filters sit under the
    hash, correct CRCs, 16×h RGB raster zero-padded from the text),
    then the real decoder (`_decode_png`: chunk walk → zlib inflate →
    per-filter scanline reversal) recovers the raster and its integer
    stats are recomputed by the oracle from the TEXT alone. A wrong
    Paeth predictor, cumsum carry, or row-boundary slip breaks the
    hash for every document whose filter cycle touches that arm.
    Same no-shuffle Arrow discipline as the PPM/WAV roundtrips. JPEG
    has its own pure-numpy baseline codec (`operators/jpeg.py`) —
    lossy, so it is pinned by error envelopes + bit-determinism
    rather than an oracle hash."""
    from collections.abc import Iterator

    import pandas as pd

    from mapreduce_project_spark.operators.multimodal import (
        byte_features,
        decode_media,
        png_encode,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for txt in pdf["text"]:
                b = str(txt).encode("utf-8")
                h = -(-len(b) // 48)  # 16 px/row × 3 ch = 48 B/row
                payloads.append(
                    png_encode(b + b"\x00" * (48 * h - len(b)), 16, h, 3)
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(), "payload": payloads}
            )

    enc = docs.mapInPandas(encode, "doc_id long, payload binary")
    dec = decode_media(enc)
    stats = byte_features(dec.select("doc_id", F.col("data").alias("payload")))
    return dec.select("doc_id", "width", "height", "n_values").join(
        stats.select("doc_id", "byte_sum"), "doc_id"
    )


def _wav_encoder(list_chunk: bool):
    """The ``mapInPandas`` function ``encode``: (doc_id, text) batches to
    (doc_id, payload), each payload a RIFF/WAVE file (mono, 8 kHz,
    16-bit PCM) whose samples are the text's UTF-8 bytes, zero-padded to
    an even length; with ``list_chunk`` a LIST chunk precedes fmt."""
    lst = b"LIST" + (5).to_bytes(4, "little") + b"INFOx\x00" if list_chunk else b""
    fmt = (
        b"fmt " + (16).to_bytes(4, "little") + (1).to_bytes(2, "little")
        + (1).to_bytes(2, "little") + (8000).to_bytes(4, "little")
        + (16000).to_bytes(4, "little") + (2).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for txt in pdf["text"]:
                b = str(txt).encode("utf-8")
                if len(b) % 2:
                    b += b"\x00"
                data = b"data" + len(b).to_bytes(4, "little") + b
                body = b"WAVE" + lst + fmt + data
                payloads.append(b"RIFF" + len(body).to_bytes(4, "little") + body)
            yield pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy(), "payload": payloads})

    return encode


@query(
    "multimodal_wav_roundtrip",
    """
    WITH t AS (
      SELECT doc_id, list_transform(string_split(text, ''), c -> ord(c)) AS o
      FROM documents
    ),
    s AS (SELECT doc_id, o, len(o) AS n FROM t)
    SELECT doc_id,
           CAST(1 AS BIGINT) AS channels,
           CAST(8000 AS BIGINT) AS sample_rate_hz,
           CAST(16 AS BIGINT) AS bits_per_value,
           CAST((n + (n % 2)) // 2 AS BIGINT) AS n_values,
           CAST(COALESCE(list_aggregate(list_transform(
                  generate_series(1, (n + (n % 2)) // 2),
                  i -> o[2*i - 1] + 256 * COALESCE(o[2*i], 0)), 'sum'), 0) AS BIGINT)
             AS sample_sum
    FROM s
    """,
)
def q_multimodal_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 audio-path closure, the WAV sibling of
    `multimodal_decode_roundtrip`: each document's text bytes become a
    REAL RIFF/WAVE payload (mono, 8 kHz, 16-bit PCM; a LIST chunk is
    planted BEFORE fmt so the decoder's chunk walk is on the hash
    path, and odd-length texts take a zero pad byte), the real decoder
    extracts the PCM, and per-doc little-endian int16 sample sums are
    recomputed by the oracle straight from the characters (ASCII ⇒
    byte ≡ codepoint; the high byte is always < 128 here, so the
    signed branch stays covered by the unit test's negative samples).
    Wrong chunk walking, fmt parsing, or sample framing breaks the
    hash. Narrow mapInPandas stages; payloads never shuffle."""
    from collections.abc import Iterator

    import pandas as pd

    from mapreduce_project_spark.operators.multimodal import decode_media

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")

    def sample_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            sums = [
                int(np.frombuffer(bytes(d), dtype="<i2").sum(dtype=np.int64))
                for d in pdf["data"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "channels": pdf["channels"].to_numpy(),
                    "sample_rate_hz": pdf["sample_rate_hz"].to_numpy(),
                    "bits_per_value": pdf["bits_per_value"].to_numpy(),
                    "n_values": pdf["n_values"].to_numpy(),
                    "sample_sum": sums,
                }
            )

    enc = docs.mapInPandas(
        _wav_encoder(list_chunk=True), "doc_id long, payload binary"
    )
    dec = decode_media(enc)
    return dec.mapInPandas(
        sample_stats,
        "doc_id long, channels long, sample_rate_hz long, "
        "bits_per_value long, n_values long, sample_sum long",
    )


@query("multimodal_jpeg_roundtrip", None)
def q_multimodal_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 LOSSY-codec closure: each sampled document's bytes become a
    16-wide RGB raster, encode through the REAL baseline JPEG codec
    (`operators/jpeg.py` — Annex K tables, Huffman entropy coding,
    DCT), decode back, and emit integer stats of both the compressed
    stream and the reconstruction error. JPEG is lossy, so no SQL
    oracle can replay it — this is a rows-only determinism slot (the
    codec is bit-deterministic end to end; the ERROR ENVELOPE is
    pinned in tests/test_multimodal.py) — the documented weaker-check
    class, like the streaming operators. The doc_id < 200 sample keeps
    the pure-Python entropy coder inside sweep budgets; the Spark
    plumbing (Arrow batches, no shuffle) is the same as the PNG/WAV
    roundtrips. Output: (doc_id, width, height, n_jpeg_bytes,
    max_abs_err, mean_err_x100)."""
    from collections.abc import Iterator

    import pandas as pd

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from mapreduce_project_spark.operators.jpeg import jpeg_decode, jpeg_encode

        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "width", "height", "n_jpeg_bytes",
                "max_abs_err", "mean_err_x100",
            )}
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                b = str(txt).encode("utf-8")
                h = max(1, -(-len(b) // 48))
                raster = np.frombuffer(
                    b + b"\x00" * (48 * h - len(b)), dtype=np.uint8
                ).reshape(h, 16, 3)
                enc = jpeg_encode(raster.tobytes(), 16, h, 3, quality=90)
                _w, _h, _c, data = jpeg_decode(enc)
                got = np.frombuffer(data, dtype=np.uint8).reshape(h, 16, 3)
                err = np.abs(got.astype(int) - raster.astype(int))
                out["doc_id"].append(int(did))
                out["width"].append(16)
                out["height"].append(int(h))
                out["n_jpeg_bytes"].append(len(enc))
                out["max_abs_err"].append(int(err.max()))
                out["mean_err_x100"].append(int(round(err.mean() * 100)))
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        roundtrip,
        "doc_id long, width long, height long, n_jpeg_bytes long, "
        "max_abs_err long, mean_err_x100 long",
    )


@query("multimodal_audio_logmel")
def q_multimodal_audio_logmel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 audio FEATURE-EXTRACT closure (the brief's 'feature-extract'
    step made real, not a stub): document text becomes a real RIFF/WAVE
    PCM payload (the D156 encode), the real decoder extracts samples,
    and `operators/multimodal.logmel_features` computes the log-mel
    spectrogram (Hann -> rfft power -> HTK mel bank -> log floor) that
    speech models train on. Output per doc: frame/band counts, the
    micro-quantized total log-energy checksum, and the argmax mel band
    of the mean spectrum — all integers, so the rows-only determinism
    check pins the whole numeric pipeline run-to-run. No SQL twin by
    nature (DuckDB cannot FFT); the planted-tone bin test in
    tests/test_multimodal.py is the semantic pin."""
    from mapreduce_project_spark.operators.multimodal import (
        decode_media,
        logmel_features,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    wav = docs.mapInPandas(
        _wav_encoder(list_chunk=False), "doc_id long, payload binary"
    )
    dec = decode_media(wav).select(
        "doc_id", "data", "sample_rate_hz"
    )
    # n_fft=64/hop=32 so even short documents produce several frames
    lm = logmel_features(
        dec, "doc_id", n_fft=64, hop=32, n_mels=8
    )
    # argmax mel band of the summed spectrum: a compact integer signature
    nm = 8
    withbm = lm.select(
        "doc_id", "n_frames", "n_mels", "energy_q",
        F.expr(
            f"transform(sequence(0, {nm - 1}), m -> aggregate("
            f"  transform(sequence(0, cast(n_frames AS int) - 1),"
            f"            fr -> feats[fr * {nm} + m]),"
            "  cast(0.0 AS double), (acc, x) -> acc + x))"
        ).alias("bm"),
    )
    return withbm.select(
        "doc_id", "n_frames", "n_mels", "energy_q",
        (F.expr("array_position(bm, array_max(bm))") - F.lit(1))
        .cast("bigint")
        .alias("peak_band"),
    )


@query("multimodal_phash_dedup")
def q_multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-duplicate detection via 64-bit DCT perceptual hash
    (pHash) — the C2 dedup discipline applied to the pixel modality:
    every document's bytes render to a real P6 PPM (the D155 encode),
    the real decoder recovers the raster, and `operators/multimodal.py:
    phash64` reduces each image to 8 BYTES (balanced top-32-rank bits
    over the milli-quantized 8×8 DCT block — deterministic and
    replayable, no float-median tie noise).

    Scale discipline, two stages, never doc-quadratic: (1) EXACT
    perceptual clusters by plain groupBy(phash) — linear, the C1
    first-occurrence shape; perceptually identical images (including
    every exact byte duplicate) collapse into one row per distinct
    hash with min-doc-id representative and member count. (2) NEAR
    clusters by 4×16-bit band buckets over the DISTINCT hashes only —
    the pigeonhole guarantee (Hamming ≤ 3 ⇒ at least one band equal)
    makes recall at the threshold total, and the join is bounded by
    distinct-hash structure, not document count. Verification is one
    `bit_count(xor)` per candidate. Output: cluster-pair rows
    (rep_a, rep_b, hamming 1..3, docs_a, docs_b) plus self rows
    (rep, rep, 0) for every multi-member exact cluster, so both dedup
    signals are visible. Pixels never shuffle (hash-in-place
    mapInPandas). Rows-only class (no SQL engine can replay a DCT);
    determinism + planted perturbation/recall semantics pytest-pinned;
    non-vacuous by construction — exact duplicate texts render
    identical rasters."""
    from collections.abc import Iterator

    import pandas as pd

    from mapreduce_project_spark.operators.multimodal import (
        decode_media,
        phash64,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for txt in pdf["text"]:
                b = str(txt).encode("utf-8")
                h = -(-max(len(b), 1) // 48)  # 16 px/row × 3 ch = 48 B/row
                payloads.append(
                    b"P6\n16 %d\n255\n" % h + b + b"\x00" * (48 * h - len(b))
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(), "payload": payloads}
            )

    enc = docs.mapInPandas(encode, "doc_id long, payload binary")
    hashes = phash64(decode_media(enc))
    # stage 1: exact perceptual clusters — linear groupBy, no pairs
    clusters = hashes.groupBy("phash").agg(
        F.min("doc_id").cast("bigint").alias("rep"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    ).cache()
    exact = (
        clusters.filter(F.col("n_docs") >= 2)
        .select(
            F.col("rep").alias("rep_a"), F.col("rep").alias("rep_b"),
            F.lit(0).cast("bigint").alias("hamming"),
            F.col("n_docs").alias("docs_a"), F.col("n_docs").alias("docs_b"),
        )
    )
    # stage 2: near clusters — band buckets over DISTINCT hashes only
    bands = clusters.select(
        "phash", "rep", "n_docs",
        F.posexplode(
            F.array(
                *[
                    F.expr(f"shiftrightunsigned(phash, {16 * j}) & 65535")
                    for j in range(4)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    near = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.rep") < F.col("b.rep")),
        )
        .select(
            F.col("a.rep").alias("rep_a"), F.col("b.rep").alias("rep_b"),
            F.col("a.phash").alias("pa"), F.col("b.phash").alias("pb"),
            F.col("a.n_docs").alias("docs_a"), F.col("b.n_docs").alias("docs_b"),
        )
        .distinct()
        .select(
            "rep_a", "rep_b",
            F.expr("bit_count(pa ^ pb)").cast("bigint").alias("hamming"),
            "docs_a", "docs_b",
        )
        .filter(F.col("hamming") <= 3)
    )
    return exact.unionByName(near)


@query(
    "multimodal_audio_resample",
    """
    WITH t AS (
      SELECT doc_id, list_transform(string_split(text, ''), c -> ord(c)) AS o
      FROM documents
    ),
    s AS (SELECT doc_id, o, len(o) AS n FROM t),
    sm AS (
      SELECT doc_id,
             list_transform(generate_series(1, (n + (n % 2)) // 2),
                            i -> o[2*i - 1] + 256 * COALESCE(o[2*i], 0)) AS sam
      FROM s
    ),
    dec AS (
      SELECT doc_id, len(sam) AS n_in,
             list_transform(generate_series(1, len(sam) // 4),
                            j -> (sam[4*j - 3] + sam[4*j - 2]
                                  + sam[4*j - 1] + sam[4*j]) // 4) AS d
      FROM sm
    )
    SELECT doc_id,
           CAST(n_in AS BIGINT) AS n_in_samples,
           CAST(len(d) AS BIGINT) AS n_out_samples,
           CAST(COALESCE(list_aggregate(d, 'sum'), 0) AS BIGINT) AS out_sum,
           CAST(COALESCE(list_aggregate(list_transform(
                  generate_series(1, len(d)),
                  j -> d[j] * ((j - 1) % 97 + 1)), 'sum'), 0) AS BIGINT)
             AS out_wsum,
           CAST(COALESCE(list_aggregate(d, 'max'), 0) AS BIGINT) AS peak_out
    FROM dec
    """,
)
def q_multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio sample-rate conversion (D236) — the 4:1 integer boxcar
    decimator (8 kHz → 2 kHz), the preprocessing step every speech
    corpus runs before feature extraction (log-mel D193 consumes the
    DECIMATED stream at production rates): each document's text bytes
    become a REAL RIFF/WAVE payload (identical construction to
    `multimodal_wav_roundtrip` — LIST chunk planted before fmt, odd
    texts zero-padded), the REAL decoder walks the chunks, and each
    4-sample block collapses to its truncating integer mean. Reported
    per doc: in/out sample counts, the output sum, an ORDER-SENSITIVE
    weighted checksum (Σ d_j·((j−1) mod 97 + 1) — a permuted or
    off-by-one-framed output changes it where a plain sum might not),
    and the output peak.

    Exactness: ASCII payload bytes keep every sample in [0, 32768), so
    the truncating block mean (// 4) is floor on both engines and all
    sums are small exact BIGINTs; the oracle recomputes the decimation
    straight from the characters (byte ≡ codepoint), so wrong chunk
    walking, framing, or tail handling (the incomplete trailing block
    is DROPPED — resamplers emit full blocks only) breaks the hash.
    Plan: narrow mapInPandas encode → decode → decimate; payloads
    never shuffle (the C5 discipline); output is one row per doc."""
    from collections.abc import Iterator

    import pandas as pd

    from mapreduce_project_spark.operators.multimodal import decode_media

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")

    def decimate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            n_in, n_out, sums, wsums, peaks = [], [], [], [], []
            for d in pdf["data"]:
                s = np.frombuffer(bytes(d), dtype="<i2").astype(np.int64)
                k = len(s) // 4
                dec = s[: 4 * k].reshape(-1, 4).sum(axis=1) // 4
                w = (np.arange(k, dtype=np.int64) % 97) + 1
                n_in.append(len(s))
                n_out.append(k)
                sums.append(int(dec.sum(dtype=np.int64)) if k else 0)
                wsums.append(int((dec * w).sum(dtype=np.int64)) if k else 0)
                peaks.append(int(dec.max()) if k else 0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "n_in_samples": n_in,
                    "n_out_samples": n_out,
                    "out_sum": sums,
                    "out_wsum": wsums,
                    "peak_out": peaks,
                }
            )

    enc = docs.mapInPandas(
        _wav_encoder(list_chunk=True), "doc_id long, payload binary"
    )
    dec = decode_media(enc)
    return dec.mapInPandas(
        decimate,
        "doc_id long, n_in_samples long, n_out_samples long, "
        "out_sum long, out_wsum long, peak_out long",
    )

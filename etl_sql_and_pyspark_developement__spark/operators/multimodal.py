"""Multimodal column plumbing: opaque binary payloads + typed metadata,
decoded/feature-extracted via Arrow-batched mapInPandas.

The Spark-side shape is the real thing — binary column, explicit
output schema, batch iterator, partition-preserving — while the decode
kernel is STUBBED (this container has no image/audio codecs): it
derives deterministic fake dimensions from the payload bytes. Swap
`_decode_stub` for PIL/ffmpeg and nothing else changes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_sql_and_pyspark_developement__spark.functions import hex_int
from etl_sql_and_pyspark_developement__spark.operators.dedup import (
    _chunk_hamming_pairs,
)

DECODE_SCHEMA = (
    "doc_id bigint, n_bytes int, width int, height int, status string"
)


def _kernel_input(df: DataFrame, id_col: str) -> DataFrame:
    """(id, payload) projection feeding a Python kernel.

    Deliberately NOT spread_small_scan-widened (r11): the interleaved
    A/B measured the widening exchange at +0.3-0.5s on every m-lane —
    these Arrow kernels clear a 5k-doc corpus faster single-task than
    the exchange round-trip costs. At real scale the scan already
    carries many partitions, so there is nothing to widen anyway."""
    return df.select(id_col, "payload")


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Simulate a blob column (real pipelines read image/audio bytes
    from object storage; here the doc text is the payload)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8"))


def _decode_stub(payload: bytes) -> tuple[int, int, str]:
    """STUB for the real image decode (no codec libs in this
    container). Deterministic fake dimensions from the byte content —
    replace with PIL.Image.open(io.BytesIO(payload)).size in prod."""
    if not payload:
        return 0, 0, "empty"
    w = 64 + (payload[0] % 64)
    h = 64 + (payload[-1] % 64)
    return w, h, "ok"


def decode_metadata(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas decode: Arrow batches in, metadata rows out.

    Scale: partition-preserving narrow op — no shuffle; batch size is
    controlled by spark.sql.execution.arrow.maxRecordsPerBatch. The
    pattern (iterator of pandas DataFrames) is the production shape
    for CPU-bound per-row media work.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame()
            out["doc_id"] = pdf[id_col]
            payloads = pdf["payload"]
            out["n_bytes"] = payloads.map(lambda p: len(p) if p is not None else 0)
            decoded = payloads.map(lambda p: _decode_stub(bytes(p) if p is not None else b""))
            out["width"] = decoded.map(lambda t: t[0])
            out["height"] = decoded.map(lambda t: t[1])
            out["status"] = decoded.map(lambda t: t[2])
            yield out

    return _kernel_input(df, id_col).mapInPandas(decode, DECODE_SCHEMA)


FRAME_SCHEMA = (
    "doc_id bigint, frame_idx int, frame_bytes int, feature double"
)


def sample_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    frame_size: int = 32,
    every_kth: int = 4,
) -> DataFrame:
    """Frame sampling over an opaque binary payload: chunk the payload
    into fixed-size "frames", keep every k-th, and emit one row per
    sampled frame with a cheap per-frame feature.

    The chunk/sample/flatten shape is exactly a video-frame sampler's
    (payload → frames → stride sample → per-frame features); the
    "decode" is the same stub as decode_metadata (no codecs here).
    Scale: mapInPandas, narrow, output rows ∝ payload/(frame_size*k).
    """

    def sampler(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_idx, out_bytes, out_feat = [], [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                data = bytes(payload) if payload is not None else b""
                frames = [
                    data[i : i + frame_size]
                    for i in range(0, len(data), frame_size)
                ]
                for idx in range(0, len(frames), every_kth):
                    frame = frames[idx]
                    out_ids.append(doc_id)
                    out_idx.append(idx)
                    out_bytes.append(len(frame))
                    # STUB feature: mean byte value (a real pipeline
                    # would run an image/audio feature extractor here)
                    out_feat.append(sum(frame) / len(frame) if frame else 0.0)
            yield pd.DataFrame(
                {
                    "doc_id": out_ids,
                    "frame_idx": out_idx,
                    "frame_bytes": out_bytes,
                    "feature": out_feat,
                }
            )

    return _kernel_input(df, id_col).mapInPandas(sampler, FRAME_SCHEMA)


RESIZE_SCHEMA = (
    "doc_id bigint, src_bytes int, dst_bytes int, "
    "dst_width int, dst_height int, checksum bigint, status string"
)


def resize_payloads(
    df: DataFrame,
    id_col: str = "doc_id",
    dst_width: int = 32,
    dst_height: int = 32,
) -> DataFrame:
    """Resize plumbing: binary payload in, fixed-size "image" out —
    the third multimodal kernel shape next to decode (m01) and
    frame-sample (m02). The STUB "resample" nearest-neighbor-samples
    the payload bytes to dst_width*dst_height (a real pipeline calls
    PIL `Image.resize` / cv2 here); the Spark side — batch iterator,
    explicit output schema, derived checksum for downstream exact
    dedup of the resized artifact — is the production shape.

    Scale: mapInPandas, narrow, output size is CONSTANT per row
    (dst_width*dst_height), which is the property that makes resized
    corpora shuffle-friendly downstream.
    """
    dst_n = dst_width * dst_height

    import numpy as np

    MOD = 1_000_000_007
    # 31^(dst_n-1-i) mod p for the vectorized polynomial checksum:
    # Horner's acc = ((0*31+b0)*31+b1)... equals Σ b_i·31^(n-1-i) mod p,
    # so the per-byte Python loop becomes one dot product. Each term is
    # ≤ 255·(p-1) ≈ 2.5e11 and the sum of dst_n of them stays far under
    # int64, so a single final mod is exact.
    powers = np.empty(dst_n, dtype=np.int64)
    acc = 1
    for i in range(dst_n - 1, -1, -1):
        powers[i] = acc
        acc = (acc * 31) % MOD
    base_idx = np.arange(dst_n, dtype=np.float64)

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "src_bytes", "dst_bytes", "dst_width",
                "dst_height", "checksum", "status",
            )}
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                data = bytes(payload) if payload is not None else b""
                if not data:
                    n_dst, checksum, status = 0, 0, "empty"
                else:
                    # nearest-neighbor byte resample (decode stub),
                    # vectorized: gather indices then one modular dot
                    src = np.frombuffer(data, dtype=np.uint8)
                    idx = np.minimum(
                        (base_idx * (len(data) / dst_n)).astype(np.int64),
                        len(data) - 1,
                    )
                    resized = src[idx].astype(np.int64)
                    checksum = int((resized * powers % MOD).sum() % MOD)
                    n_dst, status = dst_n, "ok"
                rows["doc_id"].append(doc_id)
                rows["src_bytes"].append(len(data))
                rows["dst_bytes"].append(n_dst)
                rows["dst_width"].append(dst_width if n_dst else 0)
                rows["dst_height"].append(dst_height if n_dst else 0)
                rows["checksum"].append(checksum)
                rows["status"].append(status)
            yield pd.DataFrame(rows)

    return _kernel_input(df, id_col).mapInPandas(resize, RESIZE_SCHEMA)


WINDOW_FEATURE_SCHEMA = (
    "doc_id bigint, win_idx int, win_start int, win_bytes int, "
    "rms double, energy bigint, zero_crossings int"
)


def window_features(
    df: DataFrame,
    id_col: str = "doc_id",
    win_size: int = 64,
    hop: int = 16,
) -> DataFrame:
    """Audio-style OVERLAPPING-window feature extraction over an opaque
    binary payload — the fourth multimodal kernel shape next to decode
    (m01), stride frame-sampling (m02, non-overlapping), and resize
    (m03): windows advance by `hop` < `win_size`, so each byte lands in
    several windows (the spectrogram/STFT access pattern). Features are
    STUB stand-ins computed on raw bytes (RMS of centered samples,
    zero-crossing count) — a real pipeline decodes PCM and runs an FFT
    here; the Spark plumbing (batch iterator, explicit schema, rows ∝
    payload/hop fan-out) is the production shape.

    Vectorized per doc: numpy stride-tricks view over the byte array,
    one RMS/ZC reduction per window — no per-byte Python.

    Semantics notes (oracle-mirrored, so they are part of the
    contract): `energy` is the EXACT integer sum of squared centered
    samples per window (sums stay < 2^53, so the float64 mean feeding
    RMS is order-independent and engine-exact); a zero-crossing is
    counted when |sign(x[i+1]) - sign(x[i])| > 1 — a transition that
    passes THROUGH an exact zero sample (sign 0) contributes two
    |diff|=1 steps and intentionally counts ZERO crossings (a
    plateau-at-silence is not an oscillation).
    """
    import numpy as np

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_id, out_idx, out_start, out_bytes, out_rms, out_zc = (
                [], [], [], [], [], [],
            )
            out_energy = []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                data = bytes(payload) if payload is not None else b""
                if len(data) < win_size:
                    continue
                arr = np.frombuffer(data, dtype=np.uint8).astype(np.float64)
                centered = arr - 128.0
                n_wins = (len(data) - win_size) // hop + 1
                idx = (
                    np.arange(win_size)[None, :]
                    + hop * np.arange(n_wins)[:, None]
                )
                wins = centered[idx]                     # (n_wins, win_size)
                sq = wins * wins
                energy = sq.sum(axis=1).astype(np.int64)
                rms = np.sqrt(energy / float(win_size))
                signs = np.sign(wins)
                zc = (np.abs(np.diff(signs, axis=1)) > 1).sum(axis=1)
                out_id.extend([doc_id] * n_wins)
                out_idx.extend(range(n_wins))
                out_start.extend((hop * np.arange(n_wins)).tolist())
                out_bytes.extend([win_size] * n_wins)
                out_rms.extend(np.round(rms, 6).tolist())
                out_energy.extend(energy.tolist())
                out_zc.extend(zc.astype(int).tolist())
            yield pd.DataFrame(
                {
                    "doc_id": out_id,
                    "win_idx": out_idx,
                    "win_start": out_start,
                    "win_bytes": out_bytes,
                    "rms": out_rms,
                    "energy": out_energy,
                    "zero_crossings": out_zc,
                }
            )

    return _kernel_input(df, id_col).mapInPandas(
        extract, WINDOW_FEATURE_SCHEMA
    )


PHASH_SCHEMA = "doc_id bigint, n_bytes int, c0 int, c1 int, c2 int, c3 int"


def phash_signatures(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Perceptual-hash signatures over an opaque binary payload — the
    multimodal bridge into the dedup stack (near-duplicate IMAGES, not
    near-duplicate text): resample the payload to a fixed 8x8=64-byte
    thumbnail (the same nearest-neighbor gather as resize_payloads),
    then emit the 64-bit average-hash (aHash): bit_j = 1 iff
    thumb[j]*64 > sum(thumb) — integer-exact, no float thresholds.
    A production pipeline decodes real pixels and may swap the DCT
    pHash in; signature→candidate→verify plumbing is unchanged.

    The signature ships as four 16-bit chunks (c0..c3) rather than one
    BIGINT: the pigeonhole candidate join needs the chunks anyway, and
    chunked storage sidesteps sign-bit issues at bit 63.

    Scale: mapInPandas, narrow, constant output per row.
    """
    import numpy as np

    base_idx = np.arange(64, dtype=np.float64)
    shifts = np.arange(16, dtype=np.int64)

    def hasher(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "n_bytes", "c0", "c1", "c2", "c3")}
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                data = bytes(payload) if payload is not None else b""
                if not data:
                    chunks = [0, 0, 0, 0]
                else:
                    src = np.frombuffer(data, dtype=np.uint8)
                    idx = np.minimum(
                        (base_idx * (len(data) / 64.0)).astype(np.int64),
                        len(data) - 1,
                    )
                    thumb = src[idx].astype(np.int64)
                    total = int(thumb.sum())
                    bits = (thumb * 64 > total).astype(np.int64)
                    chunks = [
                        int((bits[16 * c : 16 * c + 16] << shifts).sum())
                        for c in range(4)
                    ]
                rows["doc_id"].append(doc_id)
                rows["n_bytes"].append(len(data))
                for c in range(4):
                    rows[f"c{c}"].append(chunks[c])
            yield pd.DataFrame(rows)

    return _kernel_input(df, id_col).mapInPandas(hasher, PHASH_SCHEMA)


def phash_neardup_pairs(
    sigs: DataFrame, max_hamming: int | None = 3
) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs of perceptually-near payloads.

    Candidates via the chunk-equality pigeonhole (same scheme as
    simhash_pairs in operators/dedup.py): any pair within hamming ≤ 3
    of a 64-bit signature leaves at least one of the four 16-bit
    chunks untouched, so an EQUI-join on (chunk_id, chunk_val) is a
    lossless candidate generator — never an all-pairs comparison.
    Verification is exact popcount-of-xor over the chunks.
    `max_hamming=None` keeps ALL chunk-colliding candidates scored
    (for top-k "closest pairs" review queues); completeness then only
    holds to hamming 3 — candidates further apart may miss every
    chunk, which is the standard LSH recall trade.

    Scale: one shuffle on the chunk key; hot chunk values (e.g. the
    all-zero chunk from low-entropy payloads) bound the blowup — at
    corpus scale, cap pathological chunk buckets the way
    dedup.cap_hot_bands guards the minhash band join.
    """
    # the materialization inside also cuts the mapInPandas hash
    # kernel to ONE execution
    return _chunk_hamming_pairs(sigs, "doc_id", max_hamming)


_PNG_HEX = "89504E470D0A1A0A"   # \x89PNG\r\n\x1a\n
_JPEG_HEX = "FFD8FF"
_RIFF_HEX = "52494646"          # 'RIFF'
_WAVE_HEX = "57415645"          # 'WAVE'


def with_mixed_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Simulate a MIXED-modality blob column: the doc's UTF-8 bytes
    prefixed with a real container magic by doc_id % 4 — PNG (0),
    JPEG (1), WAV/RIFF (2), or no header (3, an unrecognized blob).
    Both engines build the identical bytes, so the router's sniffing
    is value-verifiable."""
    body = F.encode(F.col(text_col), "UTF-8")
    return df.withColumn(
        "payload",
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.unhex(F.lit(_PNG_HEX)), body))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.unhex(F.lit(_JPEG_HEX)), body))
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.unhex(F.lit(_RIFF_HEX)),
                F.unhex(F.lit("00000000")),
                F.unhex(F.lit(_WAVE_HEX)),
                body,
            ),
        )
        .otherwise(body),
    )


def modality_router(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Single-pass modality ROUTER over an opaque binary column: sniff
    the container magic (PNG / JPEG / RIFF-WAVE), split off the body,
    and emit the per-modality typed metadata each downstream decode
    lane needs — image lane gets stub dimensions (same first/last-byte
    arithmetic as _decode_stub), audio lane gets sample count and an
    8 kHz duration estimate, unrecognized blobs are quarantined with a
    reason instead of poisoning a decode worker. The dispatch step a
    mixed 100 TB crawl runs BEFORE any expensive decode fan-out.

    Pure codegen (hex/substring/hex_int integer arithmetic — the sniff
    must be cheap precisely because it sees every blob): one scan,
    zero shuffles, zero Python — and therefore a full DuckDB oracle,
    unlike the decode stubs behind it. NULL metadata columns mark the
    lanes a modality does not populate.
    """
    p = F.col("payload")
    hexp = F.hex(p)
    n_bytes = F.length(p)
    is_png = F.substring(hexp, 1, 16) == _PNG_HEX
    is_jpeg = F.substring(hexp, 1, 6) == _JPEG_HEX
    is_wav = (F.substring(hexp, 1, 8) == _RIFF_HEX) & (
        F.substring(hexp, 17, 8) == _WAVE_HEX
    )
    modality = (
        F.when(is_png, "image/png")
        .when(is_jpeg, "image/jpeg")
        .when(is_wav, "audio/wav")
        .otherwise("unknown")
    )
    body_off = (
        F.when(is_png, 9).when(is_jpeg, 4).when(is_wav, 13).otherwise(1)
    )
    body_bytes = n_bytes - (body_off - 1)
    byte_at = lambda pos_expr: hex_int(hexp, pos_expr, 2).cast("int")  # noqa: E731
    first_b = byte_at((body_off - 1) * 2 + 1)
    last_b = byte_at(n_bytes * 2 - 1)
    is_image = is_png | is_jpeg
    return df.select(
        F.col(id_col),
        modality.alias("modality"),
        n_bytes.alias("n_bytes"),
        body_bytes.alias("body_bytes"),
        F.when(is_image, 64 + first_b % 64).alias("width"),
        F.when(is_image, 64 + last_b % 64).alias("height"),
        F.when(is_wav, F.floor((body_bytes * 1000) / F.lit(8000)))
        .cast("bigint")
        .alias("dur_ms"),
        F.when(modality == "unknown", F.lit("unknown_format"))
        .otherwise(F.lit("ok"))
        .alias("status"),
    )


FRAME_HEX_SCHEMA = "doc_id bigint, frame_idx int, frame_hex string"


def frame_hex_samples(
    df: DataFrame,
    id_col: str = "doc_id",
    frame_size: int = 32,
    every_kth: int = 2,
) -> DataFrame:
    """Sampled frames as UPPERCASE HEX strings — the content-addressed
    form of sample_frames: downstream exact frame dedup hashes these
    JVM-side (md5), and the DuckDB oracle replays the identical
    substring arithmetic on hex(encode(text)) (hex is 2 chars/byte, so
    character substr stays byte-aligned where raw-text substr would
    split multibyte runes). Uppercase matches DuckDB's hex().

    Scale: mapInPandas, narrow, output rows ∝ payload/(frame_size·k) —
    same contract as sample_frames.
    """

    def sampler(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "frame_idx", "frame_hex")}
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                data = bytes(payload) if payload is not None else b""
                n_frames = (len(data) + frame_size - 1) // frame_size
                for idx in range(0, n_frames, every_kth):
                    frame = data[idx * frame_size : (idx + 1) * frame_size]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["frame_hex"].append(frame.hex().upper())
            yield pd.DataFrame(out)

    return _kernel_input(df, id_col).mapInPandas(sampler, FRAME_HEX_SCHEMA)

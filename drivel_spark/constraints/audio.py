"""Audio row-level checks over Arrow batches.

The per-row invariant (BASELINE.json input_hint): decoded PCM must
match the oracle's re-synthesis with SNR ≥ 30 dB, plus transcript
equality.  Decoding runs per Arrow batch (numpy per clip, no per-sample
Python).  ``audio_row_source`` is the one row source ``--check-audio``
uses, a ``mapInArrow`` whose workers never import pandas;
``make_snr_udf`` + ``attach_clip_idx`` score the same rows through a
pandas UDF and a distributed (clip_id, idx) join, and serve as its
independent reference.  Those two import pandas when called, not at
module import (annotations are evaluated here, so their UDFs' ``pd.Series``
hints resolve to that local import).
"""

from dataclasses import dataclass
from typing import Optional
from urllib.parse import quote, unquote

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..arrow_np import from_numpy, values
from ..produce.audio import snr_vs_synth, wav_decode
from .spec import Constraint

def make_snr_udf(seed: int = 42, audio_cap_ms: int = 2000,
                 sr_range: tuple[int, int] = (4000, 48000)):
    """SNR of decoded payload vs deterministic re-synthesis keyed by the
    clip index (fixture oracle).  Returns a pandas UDF
    (bytes, idx, sr_hz, dur_ms) → double."""
    import pandas as pd

    @F.pandas_udf(DoubleType())
    def snr_udf(payload: pd.Series, idx: pd.Series, sr: pd.Series, dur: pd.Series) -> pd.Series:
        out = np.full(len(payload), -np.inf)
        for k in range(len(payload)):
            b = payload.iloc[k]
            if b is None or pd.isna(idx.iloc[k]):
                continue
            try:
                decoded, _ = wav_decode(bytes(b))
            except ValueError:
                continue
            sr_c = int(np.clip(sr.iloc[k], sr_range[0], sr_range[1]))
            dur_c = int(np.clip(dur.iloc[k], 50, audio_cap_ms))
            # chunked accumulation — cache-resident, never materializes
            # the full reference (scales with cores, not DRAM bandwidth)
            out[k] = snr_vs_synth(decoded, int(idx.iloc[k]), sr_c, dur_c, seed)
        return pd.Series(out)

    return snr_udf


# per-process cache of the clip_id → canonical clip_idx mapping so a
# reused Python worker (spark.python.worker.reuse) builds it once per
# (n_rows, seed), not once per task; PID-keyed for forked workers
_IDX_CACHE: dict = {}


def _clip_idx_map(n_rows: int, seed: int) -> dict:
    import os

    key = (n_rows, seed, os.getpid())
    m = _IDX_CACHE.get(key)
    if m is None:
        from ..fixtures import clip_id_for

        ids = clip_id_for(np.arange(n_rows, dtype=np.int64), seed)
        m = {}
        for i in range(len(ids)):
            cid = ids[i]
            if cid not in m:  # duplicates canonicalize to the MIN idx
                m[cid] = i
        _IDX_CACHE.clear()  # one live mapping per worker is plenty
        _IDX_CACHE[key] = m
    return m


# payload rows per Arrow batch read inside audio_row_source
PAYLOAD_READ_ROWS = 256

# URI schemes Spark uses for stores that pyarrow opens under another name
_SCHEME_ALIASES = {"s3a": "s3", "s3n": "s3"}


def _pyarrow_uri(loc: str, raw: bool = False) -> str:
    """``loc`` as a URI ``pyarrow.fs.FileSystem.from_uri`` opens: a
    bare path becomes ``file://``, Spark's ``s3a`` / ``s3n`` become
    ``s3``.  ``raw``: ``loc`` is a plain location (Iceberg's ``_file``)
    rather than a percent-encoded URI (Spark's ``_metadata.file_path``),
    so its path is quoted to survive from_uri's decoding."""
    scheme, sep, rest = loc.partition(":")
    if not sep or "/" in scheme:
        scheme, rest = "file", loc
    netloc, path = "", rest
    if rest.startswith("//"):
        netloc, _, path = rest[2:].partition("/")
        path = "/" + path
    if raw:
        path = quote(path)
    return f"{_SCHEME_ALIASES.get(scheme, scheme)}://{netloc}{path}"


def _split_store(loc: str, raw: bool = False) -> tuple[str, str]:
    """``loc``'s store as ``scheme://netloc/`` and its still-encoded
    path within that store."""
    scheme, _, rest = _pyarrow_uri(loc, raw).partition("://")
    netloc, _, path = rest.partition("/")
    return f"{scheme}://{netloc}/", path


def _open_store(root: str):
    """The pyarrow filesystem of ``root`` (``scheme://netloc/``) and the
    prefix of its paths: an S3 bucket, "" for a local disk."""
    from pyarrow import fs

    filesystem, root_path = fs.FileSystem.from_uri(root)
    return filesystem, root_path.rstrip("/")


def _open_file(loc: str, raw: bool, stores: dict):
    """The file at ``loc`` (see ``_pyarrow_uri``), its path decoded as
    ``FileSystem.from_uri`` decodes it.  ``stores`` keeps one filesystem
    per ``scheme://netloc``, so a task makes each store's client once
    rather than once per file per batch."""
    root, path = _split_store(loc, raw)
    if root not in stores:
        stores[root] = _open_store(root)
    filesystem, prefix = stores[root]
    return filesystem.open_input_file(f"{prefix}/{unquote(path)}")


def _check_stores(uris) -> None:
    """Raise ``ValueError`` unless pyarrow opens the store of every
    URI: an unknown scheme, or a store pyarrow fails to open (no
    libhdfs, no credentials), stops the plan on the driver instead of a
    task in a worker.  Opens each distinct ``scheme://netloc/`` once."""
    for root in sorted({_split_store(u)[0] for u in uris}):
        try:
            _open_store(root)
        except Exception as e:
            raise ValueError(
                f"--check-audio reads payloads with pyarrow, which cannot "
                f"open {root}: {e}"
            ) from e


def _read_payloads(source, rows: np.ndarray):
    """Yield ``(i, payload)`` for each file row index ``rows[i]``, in
    file order: reads only the payload column of the row groups those
    rows fall in, ``PAYLOAD_READ_ROWS`` at a time."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(source)
    md = pf.metadata
    starts = np.cumsum(
        [0] + [md.row_group(g).num_rows for g in range(md.num_row_groups)]
    )
    rg_of = np.searchsorted(starts, rows, side="right") - 1
    rgs = np.unique(rg_of)
    sizes = starts[rgs + 1] - starts[rgs]
    # each row's position within the read of just those row groups
    skipped = starts[rgs] - (np.cumsum(sizes) - sizes)
    pos = rows - skipped[np.searchsorted(rgs, rg_of)]
    order = np.argsort(pos)
    j = off = 0
    for chunk in pf.iter_batches(
        batch_size=PAYLOAD_READ_ROWS, row_groups=rgs.tolist(), columns=["bytes"]
    ):
        payload = chunk.column(0)
        end = off + len(payload)
        while j < len(order) and pos[order[j]] < end:
            yield order[j], payload[int(pos[order[j]] - off)].as_py()
            j += 1
        if j == len(order):
            return
        off = end


def _snr_batches(n_rows: int, seed: int, raw: bool, out_names: list[str],
                 audio_cap_ms: int, sr_range: tuple[int, int]):
    """``audio_row_source``'s ``mapInArrow`` function: per batch, the
    rows' payloads read from their files, scored, and the batch's
    columns but ``__file`` / ``__row`` plus ``__snr`` yielded.  Built on
    Arrow buffers only (no ``pa.array``, no ``to_numpy``), so the worker
    does not load pandas."""

    def gen(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        idx_map = _clip_idx_map(n_rows, seed)
        stores: dict = {}

        def score(b, cid, sr, dur) -> float:
            idx = idx_map.get(cid)
            if b is None or idx is None or sr is None or dur is None:
                return -np.inf
            try:
                decoded, _ = wav_decode(b)
            except ValueError:
                return -np.inf
            sr_c = int(np.clip(sr, sr_range[0], sr_range[1]))
            dur_c = int(np.clip(dur, 50, audio_cap_ms))
            return snr_vs_synth(decoded, idx, sr_c, dur_c, seed)

        for batch in batches:
            files = pc.dictionary_encode(batch.column("__file"))
            file_of = values(files.indices, np.int32)
            rows = values(batch.column("__row"), np.int64)
            cids = batch.column("clip_id").to_pylist()
            srs = batch.column("sr_hz").to_pylist()
            durs = batch.column("dur_ms").to_pylist()
            snr = np.full(batch.num_rows, -np.inf)
            for f, loc in enumerate(files.dictionary.to_pylist()):
                at = np.flatnonzero(file_of == f)
                with _open_file(loc, raw, stores) as fh:
                    for i, b in _read_payloads(fh, rows[at]):
                        k = at[i]
                        snr[k] = score(b, cids[k], srs[k], durs[k])
            yield pa.RecordBatch.from_arrays(
                [batch.column(n) for n in out_names[:-1]] + [from_numpy(snr)],
                names=out_names,
            )

    return gen


def audio_row_source(
    df: DataFrame,
    n_rows: int,
    seed: int = 42,
    flags: Optional[dict[str, Column]] = None,
    audio_cap_ms: int = 2000,
    sr_range: tuple[int, int] = (4000, 48000),
) -> DataFrame:
    """Row source for the audio-SNR check: every column of ``df`` but
    ``bytes``, one boolean column per ``flags`` entry, and ``__snr``.

    ``df`` is the clips table read from parquet files, by path or as a
    catalog table, after any filters (``--where``, a dirty-scope slice).
    Spark plans, prunes and splits that scan as usual, minus the
    payload column; each row instead carries the location of its file
    and its row index in it: Spark's ``_metadata.file_path`` /
    ``_metadata.row_index`` on a file scan, else Iceberg's ``_file`` /
    ``_pos`` metadata columns.  One ``mapInArrow`` then reads the
    payloads in the Python worker: per batch it opens each file once,
    finds the row groups its rows fall in from the footer, and reads
    only the payload column of those row groups, ``PAYLOAD_READ_ROWS``
    at a time.  The payload never crosses the JVM→Python Arrow stream,
    parallelism follows Spark's splits, and a worker's payload memory is
    bounded by the row groups of one batch, not by the file.  The files
    are opened with pyarrow (``s3a://`` / ``s3n://`` as ``s3://``); a
    store it cannot open raises ``ValueError`` here, on the driver,
    for every scan that lists its files.

    ``flags`` maps names to boolean Columns that need the payload (the
    decode-free structural tiers); they are evaluated in the same scan,
    before the payload is dropped.

    Scores as ``make_snr_udf`` does: same ``wav_decode``, same
    ``snr_vs_synth``, same clamps, ``-inf`` for a missing payload, an
    unknown clip id, or an undecodable payload; also ``-inf`` for a NULL
    ``sr_hz`` / ``dur_ms``, which leaves nothing to re-synthesize.
    """
    from pyspark.errors import AnalysisException

    flags = flags or {}
    keep = [c for c in df.columns if c != "bytes"]
    keep += [pred.alias(name) for name, pred in flags.items()]
    narrow, raw = None, False
    for file_col, row_col in (("_metadata.file_path", "_metadata.row_index"),
                              ("_file", "_pos")):
        try:
            narrow = df.select(
                *keep,
                F.col(file_col).alias("__file"),
                F.col(row_col).cast("long").alias("__row"),
            )
            break
        except AnalysisException:
            raw = True  # Iceberg's _file is a plain location, not a URI
    if narrow is None:
        raise ValueError(
            "audio_row_source needs a parquet file scan or an Iceberg "
            "table: its _metadata (or _file / _pos) columns locate each "
            "row's payload"
        )
    _check_stores(df.inputFiles())
    out_schema = StructType(
        [f for f in narrow.schema.fields if f.name not in ("__file", "__row")]
        + [StructField("__snr", DoubleType())]
    )
    gen = _snr_batches(n_rows, seed, raw, out_schema.fieldNames(), audio_cap_ms, sr_range)
    return narrow.mapInArrow(gen, out_schema)


def audio_check(constraints: list) -> tuple[dict[str, Column], list]:
    """The ``--check-audio`` constraint set over ``audio_row_source``:
    each row-level constraint on ``bytes`` becomes a read of a flag
    column the source computes in its scan (returned as the source's
    ``flags``), and the SNR ≥ 30 dB check is appended."""
    from .validate import RowPredicate

    flags: dict[str, Column] = {}
    out = []
    for c in constraints:
        if c.is_row_level and c.column == "bytes":
            name = f"__ok_{len(flags)}"
            flags[name] = c.predicate()
            c = RowPredicate(c.name, c.column, F.col(name))
        out.append(c)
    out.append(
        RowPredicate("audio_snr_30db", "bytes", F.col("__snr") >= F.lit(30.0))
    )
    return flags, out


def attach_clip_idx(
    df: DataFrame, spark: SparkSession, n_rows: int, seed: int = 42,
    clip_id_col: str = "clip_id", n_partitions: int = 8,
) -> DataFrame:
    """Join the deterministic (clip_id, clip_idx) mapping back onto the
    table — a distributed equi-join (no driver lookup), so the SNR
    invariant check scales with the cluster."""
    from ..fixtures import clip_id_for

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            yield pd.DataFrame({clip_id_col: clip_id_for(ids, seed), "clip_idx": ids})

    mapping = spark.range(0, n_rows, numPartitions=n_partitions).mapInPandas(
        gen, f"{clip_id_col} string, clip_idx long"
    )
    # duplicate-injected ids map to one canonical idx (min) so the join
    # stays 1:1 even when uniqueness violations exist
    mapping = mapping.groupBy(clip_id_col).agg(F.min("clip_idx").alias("clip_idx"))
    # broadcast below the threshold so the binary payload column never
    # shuffles; beyond it, fall back to a hash join (AQE may still pick
    # broadcast from runtime stats) — a 10^12-row mapping cannot be
    # driver-resident, and the SNR oracle join must stay distributed
    if n_rows * 64 < 64 << 20:
        mapping = F.broadcast(mapping)
    return df.join(mapping, on=clip_id_col, how="left")



@dataclass(frozen=True)
class PcmSizeConsistency(Constraint):
    """Metadata↔payload byte-size consistency for PCM WAV clips: a
    mono 16-bit RIFF payload of a clip with (sr_hz, dur_ms) metadata
    must be exactly ``header_bytes + bytes_per_sample ·
    rint(sr_hz·dur_ms/1000)`` bytes (``tolerance_bytes`` slack for
    padding chunks).  Catches transcoded-but-unupdated metadata,
    truncated uploads, and duration drift WITHOUT decoding a byte —
    pure Catalyst length arithmetic in the scan, the cheap tier below
    the SNR decode check.  ``rint`` (round-half-even) matches the
    encoder's numpy rounding exactly.  NULL bytes/sr/dur pass
    (nullability is NotNull's job); rows whose ``codec_col`` isn't
    ``codec_value`` pass vacuously (other codecs compress)."""

    bytes_col: str = "bytes"
    sr_col: str = "sr_hz"
    dur_col: str = "dur_ms"
    codec_col: Optional[str] = "codec"
    codec_value: str = "pcm_s16le"
    header_bytes: int = 44
    bytes_per_sample: int = 2
    tolerance_bytes: int = 0

    def predicate(self):
        b, sr, dur = F.col(self.bytes_col), F.col(self.sr_col), F.col(self.dur_col)
        n = F.greatest(
            F.expr(
                f"CAST(rint({self.sr_col} * {self.dur_col} / 1000.0) AS BIGINT)"
            ),
            F.lit(1),
        )
        expected = F.lit(self.header_bytes) + F.lit(self.bytes_per_sample) * n
        ok = F.abs(F.length(b) - expected) <= F.lit(self.tolerance_bytes)
        vacuous = b.isNull() | sr.isNull() | dur.isNull()
        if self.codec_col is not None:
            vacuous = vacuous | (F.col(self.codec_col) != F.lit(self.codec_value))
        return F.when(vacuous, F.lit(True)).otherwise(ok)


def _le_uint(bytes_col: str, pos: int, nbytes: int):
    """Little-endian unsigned int parsed from ``nbytes`` bytes of a
    binary column at 1-indexed ``pos`` — pure Catalyst: hex() the
    slice, reverse its BYTE pairs (hex is big-endian per byte), then
    conv(16→10).  Whole-stage codegen, no UDF, no decode."""
    h = F.hex(F.expr(f"substring({bytes_col}, {pos}, {nbytes})"))
    swapped = F.concat(
        *[F.substring(h, 2 * i + 1, 2) for i in reversed(range(nbytes))]
    )
    return F.conv(swapped, 16, 10).cast("long")


@dataclass(frozen=True)
class WavHeaderCheck(Constraint):
    """Structural WAV header validation WITHOUT decoding a sample —
    the tier below PcmSizeConsistency: all four RIFF magics in place,
    canonical fmt chunk (PCM, mono, 16-bit), the header's OWN declared
    sample rate equal to the ``sr_col`` metadata, and both declared
    sizes (RIFF = len−8, data = len−44) consistent with the actual
    payload length.  Catches corrupted uploads, stereo/float payloads
    mislabeled as pcm_s16le, sr metadata drift, and truncation — each
    as a per-row verdict from pure Catalyst byte arithmetic
    (substring/hex/conv in scan codegen; the only bytes touched are
    the 44-byte header slice Parquet already materialized).

    NULL bytes/sr pass (nullability is NotNull's job); rows whose
    ``codec_col`` isn't ``codec_value`` pass vacuously (other codecs
    have other containers).  Reference parity: the reference validates
    payloads only by re-inference (SURVEY.md §2.10 Filter row); this
    is target-design audio hardening per BASELINE.json's north rule."""

    bytes_col: str = "bytes"
    sr_col: str = "sr_hz"
    codec_col: Optional[str] = "codec"
    codec_value: str = "pcm_s16le"

    def predicate(self):
        b = F.col(self.bytes_col)
        blen = F.length(b)
        tag = lambda pos, lit: F.expr(  # noqa: E731
            f"substring({self.bytes_col}, {pos}, {len(lit)})"
        ) == F.lit(lit)
        le = lambda pos, n: _le_uint(self.bytes_col, pos, n)  # noqa: E731
        ok = (
            (blen >= 44)
            & tag(1, b"RIFF")
            & tag(9, b"WAVE")
            & tag(13, b"fmt ")
            & tag(37, b"data")
            & (le(17, 4) == 16)            # fmt chunk size
            & (le(21, 2) == 1)             # audio format = PCM
            & (le(23, 2) == 1)             # channels = mono
            & (le(25, 4) == F.col(self.sr_col).cast("long"))
            & (le(35, 2) == 16)            # bits per sample
            & (le(5, 4) == (blen - 8).cast("long"))    # RIFF size
            & (le(41, 4) == (blen - 44).cast("long"))  # data size
        )
        vacuous = b.isNull() | F.col(self.sr_col).isNull()
        if self.codec_col is not None:
            vacuous = vacuous | (F.col(self.codec_col) != F.lit(self.codec_value))
        return F.when(vacuous, F.lit(True)).otherwise(ok)

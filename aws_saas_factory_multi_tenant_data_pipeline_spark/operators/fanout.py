"""Scan fan-out for compute-heavy operators over few-partition inputs.

Guide §2.5 "input skew": a single (or few-file) parquet table arrives
from the scan as 1-2 partitions, so every expression-heavy pipeline
downstream — regex tokenization, shingling, 64-aggregate signatures,
per-row cosine argmax — runs on 1-2 of the session's cores. Measured
r16 on the sf1 fixture (documents/embeddings scan = 2 partitions,
local[32]): minhash 8.9 s → 3.1 s, bm25 1.8 s → 1.0 s, semantic_dedup
6.3 s → 1.3 s from ONE hash-repartition after the read; row-identical
results at every scale factor (hash partitioning only relocates rows,
and every consumer is either keyed aggregation or per-row projection).

The seam is CONDITIONAL, so it is scale-adaptive rather than a
local[32] tune: when the scan already yields at least half the
session's shuffle parallelism (the normal case at real scale, where the
table is thousands of files), no byte moves. The repartition hashes an
id column — deterministic under retries (guide §2.5 warns only about
rand-derived keys), and no sort-before-repartition cost (that applies
to round-robin, not hash).

`fan_out_media_ids` is the count-based twin for per-doc Python media
chains, whose input frame is a doc_id list too small for byte-based
sizing to see the CPU behind each row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _shuffle_partitions(df: DataFrame) -> int | None:
    """The session's shuffle parallelism, or None when the conf is not a
    number (the seams then fail open and return their input)."""
    try:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # non-numeric conf (never in this engine's sessions)
        return None


def fan_out_scan(df: DataFrame, by: str) -> DataFrame:
    """Hash-repartition ``df`` by column ``by`` to the session's shuffle
    parallelism iff the frame's current physical parallelism is less
    than half of it. Returns ``df`` unchanged otherwise.

    ``df.rdd.getNumPartitions()`` compiles the physical plan (driver
    work, no job) — call this on scan-shaped frames, not on frames with
    expensive lineage.
    """
    target = _shuffle_partitions(df)
    if target is None or df.rdd.getNumPartitions() * 2 > target:
        return df
    # UNSIZED repartition on purpose: AQE (coalescePartitions with
    # parallelismFirst, the session default) sizes the exchange from the
    # observed bytes — a few partitions at sf0.1, ~cores at sf1 — so the
    # seam self-scales instead of pinning the local core count (guide §2
    # "scale-adaptive, not a constant"). A sized repartition(target, col)
    # was measured to inflate every downstream stage to `target` tasks at
    # fixture scale (+0.7 s of scheduling on bm25 at sf0.1) for no sf1
    # gain over the AQE-sized form.
    return df.repartition(F.col(by))


#: Doc-count threshold for fanning a per-doc Python media chain out
#: across the session (the seam measured at real payload sizes). BELOW
#: it a single task wins: an A/B showed 64 tiny-payload docs on 1 task
#: beating repartition(32) (3 Python stages x 32 Arrow worker spin-ups
#: cost more than the decode). AT/ABOVE it the chain cost is per-doc
#: encode/decode CPU and parallelism wins big: 128 docs x ~70 KB
#: 6-frame 256x256 MJPEG MP4s read 72.5 s single-task vs 14.4 s at 8 and
#: 8.2 s at 32 partitions (min-of-2, rows identical). Count-based on
#: purpose: the chain's input frame is a doc_id list, so the byte-based
#: sizing AQE applies to exchanges cannot see the Python CPU behind each
#: row.
MEDIA_FANOUT_MIN_DOCS = 128


def fan_out_media_ids(d: DataFrame, by: str, n_docs: int) -> DataFrame:
    """Spread a per-doc media chain's input frame across the session's
    cores when the doc set is large enough to amortize Python worker
    spin-up (see :data:`MEDIA_FANOUT_MIN_DOCS`); identity otherwise —
    fixture-scale plans and bench numbers are unchanged."""
    if n_docs < MEDIA_FANOUT_MIN_DOCS:
        return d
    target = _shuffle_partitions(d)
    if target is None:
        return d
    return d.repartition(min(target, n_docs), F.col(by))

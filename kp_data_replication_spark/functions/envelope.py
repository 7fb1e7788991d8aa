"""Envelope unpack, content normalization, sha256 invariant (SURVEY.md §2.2 F4, §2.10).

The reference replicates records byte-faithfully — key/value/headers/timestamp
pass through unchanged (docs/local-to-es.md:97-106, headers
docs/es-to-local.md:11). The rebuild's identity projection is the envelope
unpack: project the Debezium-style ``after`` image into flat row columns,
keeping key columns available for tombstones from ``before``
(tombstone semantics, BASELINE north_star; Kafka null-value analogue).

Vectorization policy (BASELINE: "all row transforms run as vectorized
pandas/Arrow UDFs — no per-row Python"):
  * struct field extraction stays NATIVE (`after.*`): Catalyst prunes the
    parquet scan to exactly the referenced nested fields — wrapping this in
    a UDF would defeat nested-column pruning at 100 TB.
  * content normalization (unicode NFC + newline canonicalization) is a
    true Python transform -> Arrow-vectorized ``pandas_udf`` (never
    row-at-a-time ``F.udf``).
  * sha256(content) — the per-row correctness invariant — uses the JVM
    builtin ``sha2`` (bit-identical to hashlib/DuckDB ``sha256`` hex);
    ``sha256_pandas`` exists to prove that equality in tests.
"""

from __future__ import annotations

import hashlib
import unicodedata

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

META_COLS = ["partition", "lsn", "op", "ts_ms"]


@F.pandas_udf(T.StringType())
def normalize_content(s: pd.Series) -> pd.Series:
    """Unicode NFC + CRLF->LF canonicalization, Arrow-batched.

    The reference's payload-equality oracle compares exact bytes
    (docs/local-to-es.md:97-106); normalizing both sides first makes the
    sha256 invariant robust to encoder differences.
    """
    def _n(x):
        if x is None:
            return None
        # ASCII fast path: NFC is the identity on ASCII, so only the CRLF
        # rewrite can apply — str.isascii is a C-level check per element
        if x.isascii():
            return x.replace("\r\n", "\n") if "\r" in x else x
        return unicodedata.normalize("NFC", x).replace("\r\n", "\n")

    return s.map(_n)


@F.pandas_udf(T.StringType())
def sha256_pandas(s: pd.Series) -> pd.Series:
    """hashlib sha256 hex — test twin of the JVM builtin ``sha2(col, 256)``."""
    return s.map(lambda x: None if x is None else hashlib.sha256(x.encode("utf-8")).hexdigest())


def sha256_col(col) -> F.Column:
    """Per-row content invariant (BASELINE input_hint: sha256 equality)."""
    return F.sha2(col, 256)


def row_cols(df: DataFrame) -> list[str]:
    """Data columns carried by the envelope's after image (schema may have
    evolved additively — docs/consideration.md:13-18)."""
    after = next(f for f in df.schema.fields if f.name == "after")
    return [f.name for f in after.dataType.fields]


def unpack_envelope(df: DataFrame, normalize: bool = True) -> DataFrame:
    """Native envelope unpack: meta cols + key cols + after image columns.

    For deletes (``op='d'``, after is null) the key columns come from the
    before image so the MERGE delete branch can match its target row — and
    so do the LWW conflict-stamp columns: a cascaded tombstone's origin
    stamp rides in its before image (the exact-diff changefeed emits the
    deleted row's last persisted stamp there), and re-stamping it with
    cascade wall-clock time would fabricate a stamp that out-ranks genuine
    concurrent writes at remote replicas only (divergence + delete/insert
    echo — the round-3 advisory). Output: partition, lsn, op, ts_ms,
    repo, path, <other row cols...>.
    """
    from ..schema import LWW_SRC_COL, LWW_TS_COL

    cols = row_cols(df)
    stamp_cols = {LWW_TS_COL, LWW_SRC_COL}

    def _field(c: str) -> F.Column:
        if c in stamp_cols:
            return F.coalesce(F.col(f"after.{c}"), F.col(f"before.{c}")).alias(c)
        return F.col(f"after.{c}").alias(c)

    out = df.select(
        *META_COLS,
        F.coalesce(F.col("after.repo"), F.col("before.repo")).alias("repo"),
        F.coalesce(F.col("after.path"), F.col("before.path")).alias("path"),
        *[_field(c) for c in cols if c not in ("repo", "path")],
    )
    if normalize and "content" in cols:
        out = out.withColumn("content", normalize_content(F.col("content")))
    return out

"""Materialized MinHash dedup index (the production incremental form).

`near_dedup_against_corpus` documents that at scale the corpus side is
a PRECOMPUTED index -- history signatured once, every crawl batch
joining it instead of re-deriving signatures for 100 TB of
already-ingested text.  This module is that materialization: the
(id, band, bucket) banded-signature frame, written partitioned by
`band` (band-key joins prune to the band's files), plus the
(id, shingles) hashed-shingle frame the exact Jaccard verify reads.

The index carries a `_geometry.json` sidecar recording the build
parameters (n/k/bands).  The reader REQUIRES the caller's expected
geometry and fails loudly on mismatch: a batch signatured with
different geometry silently finds zero candidates -- the worst failure
mode for a dedup gate is passing everything -- so geometry drift must
be an error, never a quiet recall collapse.

Growing the index: append each batch's surviving rows' signature frames
(same writer, mode="append") -- signatures are pure row-local
functions of content, so appends never invalidate existing entries.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import _banded_minhash, shingle_frame

_GEOMETRY_FILE = "_geometry.json"


def _write_geometry(out_dir: str, geometry: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, _GEOMETRY_FILE), "w") as f:
        json.dump(geometry, f, sort_keys=True)


def _check_geometry(out_dir: str, expected: dict) -> None:
    path = os.path.join(out_dir, _GEOMETRY_FILE)
    try:
        with open(path) as f:
            stored = json.load(f)
    except FileNotFoundError:
        raise ValueError(f"no signature index at {out_dir!r} ({path} missing)")
    if stored != expected:
        raise ValueError(
            f"signature-index geometry mismatch at {out_dir!r}: "
            f"index built with {stored}, reader expects {expected} -- "
            "a mismatched batch signature would silently find no "
            "candidates; rebuild the index or fix the caller"
        )


def write_minhash_index(
    corpus: DataFrame,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    mode: str = "overwrite",
) -> None:
    """Materialize the banded MinHash index + hashed shingle sets for
    `near_dedup_against_corpus_index`.  Banded frame partitioned by
    band (the band-key join reads only matching band directories)."""
    geometry = {"type": "minhash", "n": n, "k": k, "bands": bands}
    _banded_minhash(corpus, text_col, id_col, n, k, bands).write.mode(
        mode
    ).partitionBy("band").parquet(os.path.join(out_dir, "banded"))
    shingle_frame(corpus, text_col, id_col, n).write.mode(mode).parquet(
        os.path.join(out_dir, "shingles")
    )
    _write_geometry(out_dir, geometry)


def read_minhash_index(
    spark: SparkSession,
    out_dir: str,
    n: int = 3,
    k: int = 32,
    bands: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """(banded, shingles) frames; raises ValueError when the stored
    geometry differs from the caller's."""
    _check_geometry(out_dir, {"type": "minhash", "n": n, "k": k, "bands": bands})
    return (
        spark.read.parquet(os.path.join(out_dir, "banded")),
        spark.read.parquet(os.path.join(out_dir, "shingles")),
    )


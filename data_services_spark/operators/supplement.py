"""D3 external-tool supplementation (SURVEY §2.10 D3).

The reference pipes sequence variants through a snpEff JVM subprocess to
add consequence annotations `[R: Common/supplementation.py — unverified]`.
Spark-first shape: ``mapInPandas`` — each Arrow *batch* (65536 rows at
the default Arrow batch size) pipes its rows through one tool process
via stdin/stdout and yields the annotated batch. That keeps tool startup
cost at O(rows / batch_size), not O(rows), scales linearly with
executors, and — unlike a single streamed process per partition — cannot
deadlock against stdio-block-buffered tools.

The container has no snpEff, so the subprocess path is gated: with
``cmd=None`` a deterministic fake annotator runs instead (same schema, same
partition-wise batching), keeping the Spark plumbing real and testable.
"""

from __future__ import annotations

import subprocess
from collections.abc import Iterator
from typing import TYPE_CHECKING, Sequence

from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType

if TYPE_CHECKING:  # pandas is only needed in the Python workers
    import pandas as pd


def supplement(df: DataFrame, id_col: str = "id",
               cmd: Sequence[str] | None = None,
               annotation_col: str = "annotation") -> DataFrame:
    """Append ``annotation_col`` (string) produced by an external per-row
    tool, one subprocess per Arrow batch.

    cmd semantics: the tool reads one id per stdin line and writes one
    annotation per stdout line, order-preserving (the snpEff/VEP-style
    line protocol).
    """
    # Fresh StructType — StructType.add() mutates in place, and df.schema
    # is a cached handle on the input DataFrame.
    out_schema = StructType(
        list(df.schema.fields) + [StructField(annotation_col, StringType())])
    cols = df.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if cmd is None:
            # Deterministic fake: annotation derived from a stable content
            # hash, so tests get reproducible output with real batching.
            for pdf in batches:
                ids = pdf[id_col].astype(str)
                pdf[annotation_col] = [
                    f"ANN:{hash_stable(i)}" for i in ids
                ]
                yield pdf[cols + [annotation_col]]
            return
        # One process per Arrow BATCH (65536 rows at the default Arrow
        # batch size): communicate() writes the whole batch, closes stdin,
        # and drains stdout to EOF. A single streamed process per
        # partition would deadlock on any stdio-block-buffered tool (the
        # tool only flushes at EOF while we block on readline), and a
        # single communicate() per partition crashes on the second batch
        # ("cannot send input after starting communication") — per-batch
        # processes are correct for ANY filter tool, and launch cost is
        # O(rows / 65536), amortized exactly like O(partitions) at scale.
        for pdf in batches:
            proc = subprocess.Popen(list(cmd), stdin=subprocess.PIPE,
                                    stdout=subprocess.PIPE, text=True)
            try:
                lines = "".join(f"{v}\n" for v in pdf[id_col].astype(str))
                out, _ = proc.communicate(lines)
                lines_out = out.splitlines()
                if len(lines_out) != len(pdf):
                    raise RuntimeError(
                        f"supplement tool {cmd!r} violated the line "
                        f"protocol: expected {len(pdf)} output lines for "
                        f"{len(pdf)} input rows, got {len(lines_out)}")
                pdf[annotation_col] = lines_out
                yield pdf[cols + [annotation_col]]
            finally:
                if proc.poll() is None:
                    proc.kill()

    return df.mapInPandas(run, out_schema)


def hash_stable(s: str) -> int:
    """Python's builtin hash() is salted per-process (wrong across
    executors); FNV-1a is stable everywhere."""
    h = 0xCBF29CE484222325
    for b in s.encode():
        h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h % 1000

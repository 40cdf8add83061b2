"""The extraction operator: transcripts -> extracted_turns via mapInArrow.

Design (SURVEY.md §3.1 'Spark shape'):
  - per-turn stateless rules => NO shuffle is required for extraction itself;
    mapInArrow runs on the scan partitions (narrow), one Arrow batch per call.
  - skew: optional salted repartition BEFORE the UDF spreads pathological
    input layouts (e.g. one file = one giant conversation) across executors
    (SURVEY §4 'Partitioning / shuffle' row).
  - ordering: stable (conv_id, turn_idx) order is applied ONCE at the sink
    (operators/order.py), not inside extraction — cheaper and skew-immune.

This is the only extraction kernel: the batch bench, the streaming drain,
the driver gates and the incremental job (operators/lineage.py) all reach
the rules through ``extract_turns``. The UDF calls
rules.oracle.extract_turn_batch, which returns exactly what the golden
oracle's extract_turn returns per row, so Spark output is byte-identical to
the oracle by construction.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..rules.oracle import extract_turn_batch
from ..schema import EXTRACTED_TURNS

_SPAN_PA = None


def _arrow_types():
    global _SPAN_PA
    import pyarrow as pa

    if _SPAN_PA is None:
        _SPAN_PA = (
            pa.list_(
                pa.struct(
                    [("start", pa.int32()), ("end", pa.int32()), ("kind", pa.string())]
                )
            ),
            pa.map_(pa.string(), pa.int32()),
        )
    return _SPAN_PA


def _extract_batches_arrow(batches, carry: tuple[str, ...] = ()):
    """mapInArrow body: builds output RecordBatches with pyarrow directly —
    skips the pandas hop entirely (measured ~2x cheaper output assembly than
    DataFrame + from_pandas for the nested spans/rule_hits columns). The
    ``carry`` columns pass through untouched, ahead of the output columns."""
    import pyarrow as pa

    span_t, map_t = _arrow_types()
    for rb in batches:
        texts = rb.column(rb.schema.get_field_index("text")).to_pylist()
        # family-grouped evaluation (rules.oracle.extract_turn_batch): same
        # bytes per row, ~25% less wall from regex/branch cache locality
        results = extract_turn_batch(texts)
        # coerce key columns to the declared schema (an input with bigint
        # turn_idx / non-string conv_id must still match EXTRACTED_TURNS);
        # no-op casts are zero-copy
        conv_arr = rb.column(rb.schema.get_field_index("conv_id")).cast(pa.string())
        idx_arr = rb.column(rb.schema.get_field_index("turn_idx")).cast(pa.int32())
        yield pa.record_batch(
            [
                *(rb.column(rb.schema.get_field_index(c)) for c in carry),
                conv_arr,
                idx_arr,
                pa.array([r.family for r in results], pa.string()),
                pa.array([r.extracted_text for r in results], pa.string()),
                pa.array([r.spans for r in results], span_t),
                pa.array([list(r.rule_hits.items()) for r in results], map_t),
                pa.array([r.n_records for r in results], pa.int32()),
                pa.array([r.valid for r in results], pa.bool_()),
                pa.array([r.problem_reason for r in results], pa.string()),
            ],
            names=[*carry, *EXTRACTED_TURNS.fieldNames()],
        )


def extract_turns(
    transcripts: DataFrame,
    salt_partitions: int | None = None,
    carry: Sequence[str] = (),
) -> DataFrame:
    """Run the extraction rules over a transcript DataFrame.

    ``salt_partitions``: when set, repartition on (conv_id, salt) first
    (operators/order.salted), breaking long-conversation skew while keeping
    *some* conv locality (SURVEY §4). Leave None for inputs
    already well-partitioned (Parquet/Iceberg splits are row-group sized).

    ``carry``: input columns passed through unchanged, placed ahead of the
    EXTRACTED_TURNS columns (the incremental job carries ``src_key``).
    """
    carry = tuple(carry)
    cols = transcripts.select(*carry, "conv_id", "turn_idx", "text")
    if salt_partitions:
        from .order import salted

        cols = salted(cols, salt_partitions)
    schema = T.StructType([*(cols.schema[c] for c in carry), *EXTRACTED_TURNS.fields])
    return cols.mapInArrow(partial(_extract_batches_arrow, carry=carry), schema=schema)

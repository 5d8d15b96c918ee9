"""Sequence packing: concatenate documents into fixed token-budget training
sequences (the batch-construction step of an LLM data pipeline).

Semantics: within each group, documents are taken in ``order_col`` order and
appended to the current sequence; when adding the next document would exceed
``budget`` tokens, a new sequence starts. A single document larger than the
budget occupies a sequence alone. This is the standard greedy contiguous
packer — deterministic, streaming, and (unlike bin-packing heuristics that
reorder) it preserves any curriculum ordering the corpus already has.

Scale design: greedy packing is inherently serial WITHIN a sequence stream,
so the unit of parallelism is the group. Group by a real stratum (language,
source shard) AND a hash shard (``shards``) so a 100 TB corpus fans out to
#strata × #shards independent packers, each a single applyInPandas group
whose rows arrive sorted. Each group holds only (id, weight) pairs in
memory — the document text never flows through the packer. The output
sequence key is (group, shard, seq_id), globally unique without any
cross-group coordination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pack_greedy(
    df: DataFrame,
    budget: int,
    weight_col: str,
    group_col: str = "lang",
    order_col: str = "doc_id",
    id_col: str = "doc_id",
    shards: int = 1,
) -> DataFrame:
    """(id, group, shard, weight, seq_id): greedy contiguous packing of each
    (group, shard) stream into sequences of ≤ ``budget`` total weight."""
    import pandas as pd

    budget_ = int(budget)
    # deduped in the caller's order: a set's order follows PYTHONHASHSEED
    cols = dict.fromkeys((id_col, group_col, order_col, weight_col))

    prepared = df.select(*cols).withColumn(
        "shard", (F.col(id_col) % F.lit(shards)).cast("int")
    )

    out_schema = (
        f"{id_col} long, {group_col} string, shard int, weight long, seq_id long"
    )

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(order_col, kind="mergesort")
        seq_ids = []
        acc, seq = 0, 0
        for w in pdf[weight_col]:
            w = int(w)
            if acc > 0 and acc + w > budget_:
                seq += 1
                acc = 0
            acc += w
            seq_ids.append(seq)
        return pd.DataFrame(
            {
                id_col: pdf[id_col].astype("int64"),
                group_col: pdf[group_col],
                "shard": pdf["shard"].astype("int32"),
                "weight": pdf[weight_col].astype("int64"),
                "seq_id": seq_ids,
            }
        )

    return prepared.groupBy(group_col, "shard").applyInPandas(pack, out_schema)

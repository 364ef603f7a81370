"""Streaming heavy hitters — the streaming twin of
`operators/heavyhitters.exact_heavy_hitters` (engine extension surface;
the reference has no frequency analytics, src/etl.js:345-352).

The batch operator's two-phase trick (map-only Misra-Gries candidates →
exact recount) needs a second pass over the data, which a stream cannot
have. The streaming form therefore keeps the MG SUMMARY ITSELF as the
answer, with its classic ε-guarantee instead of exactness:

- tokens are exploded with the SAME native expression the batch operator
  counts with, then hash-bucketed into N_BUCKETS substreams
  (`pmod(hash(token), B)`) — a token's every occurrence lands in ONE
  bucket, so per-bucket state composes to a global summary;
- `applyInPandasWithState` keyed by bucket holds one weighted-MG summary
  of capacity k-1 per bucket (counter dict + a running `decrements`
  total). Weighted update: add the chunk's value_counts, then while more
  than k-1 counters live, subtract the current minimum from ALL counters
  and add it to `decrements` — the standard weighted Misra-Gries step;
- each micro-batch the bucket emits its full current summary, so after
  a drain each bucket's latest emission (highest `_epoch` of
  `streaming/events.py::drain`) is the summary of everything that bucket
  ever saw.

Guarantee (tested differentially against the batch operator): for every
token whose TRUE global count · k > N, the token is present in its
bucket's final summary, and for every summarized token
  lower ≤ true_count ≤ lower + decrements(bucket).
Proof sketch: within bucket b (N_b total occurrences), weighted MG with
capacity k-1 undercounts any token by at most the bucket's decrement
total and evicts only tokens with count ≤ N_b/k ≤ N/k — so a global
heavy hitter (count > N/k) survives in its own bucket.

Scale: state is O(k) PER BUCKET — fixed memory no matter how long the
stream runs; buckets give the stateful stage its parallelism. This is the
bounded-state discipline the unbounded `groupBy(token).count()` streaming
aggregate (exact but state = whole vocabulary) cannot offer at 100 TB.
"""

from __future__ import annotations

import json
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seo_audit_etl_actor_spark.operators.text import tokens
from seo_audit_etl_actor_spark.session import ensure_package_on_executors
from seo_audit_etl_actor_spark.streaming.curation import read_document_stream

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

__all__ = ["read_document_stream", "stream_heavy_hitters"]

N_BUCKETS = 32

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("token", T.StringType(), False),
        T.StructField("lower", T.LongType(), False),
        T.StructField("decrements", T.LongType(), False),
    ]
)

_STATE_SCHEMA = T.StructType([T.StructField("state_json", T.StringType(), True)])


def _mg_update_fn(k: int):
    cap = k - 1

    def update(key, pdfs, state):
        import pandas as pd

        if state.exists:
            st = json.loads(state.get[0])
            counters: dict[str, int] = st["c"]
            decrements: int = st["d"]
        else:
            counters, decrements = {}, 0
        for pdf in pdfs:
            for tok, c in pdf["token"].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(c)
            while len(counters) > cap:
                m = min(counters.values())
                counters = {t: n - m for t, n in counters.items() if n > m}
                decrements += m
        state.update((json.dumps({"c": counters, "d": decrements}),))
        yield pd.DataFrame(
            {
                "bucket": [key[0]] * len(counters),
                "token": list(counters.keys()),
                "lower": list(counters.values()),
                "decrements": [decrements] * len(counters),
            }
        )

    return update


def stream_heavy_hitters(stream: DataFrame, k: int) -> DataFrame:
    """Per-bucket weighted-MG summaries over an unbounded document stream
    (append mode): rows (bucket, token, lower, decrements), re-emitted in
    full each micro-batch the bucket receives data."""
    ensure_package_on_executors(stream.sparkSession)
    from pyspark.sql.streaming.state import GroupStateTimeout

    ex = stream.select(F.explode(tokens(F.col("text"))).alias("token")).select(
        F.pmod(F.hash(F.col("token")), F.lit(N_BUCKETS)).cast("int").alias("bucket"),
        "token",
    )
    return ex.groupBy("bucket").applyInPandasWithState(
        _mg_update_fn(k),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

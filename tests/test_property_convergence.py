"""Property test (SURVEY.md §5.2.4): any delivery order / batching of
the same event set converges to the same final state, because per-key
resolution is max-seq (associative + commutative) and the sink is
idempotent. Honors the reference's declared-but-absent property-test
intent (proptest/quickcheck wired in Cargo.toml with zero tests).
"""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ml_data_pipeline_spark.cdc.apply import apply_batch, create_docs_table
from ml_data_pipeline_spark.cdc.events import CHANGE_SCHEMA
from ml_data_pipeline_spark.cdc.oracle import assert_state_equal, expected_state

N_DOCS = 6


@st.composite
def event_logs(draw):
    n = draw(st.integers(min_value=1, max_value=24))
    events = []
    for seq in range(n):
        doc = draw(st.integers(min_value=0, max_value=N_DOCS - 1))
        op = draw(st.sampled_from(["I", "U", "D"]))
        if op == "D":
            tokens = None
        else:
            tokens = draw(
                st.lists(
                    st.integers(min_value=0, max_value=99),
                    min_size=0,
                    max_size=6,
                )
            )
        events.append(
            (
                seq,
                op,
                f"d{doc}",
                tokens,
                None if tokens is None else len(tokens),
                None if op == "D" else "web",
                None,
            )
        )
    # arbitrary delivery order + batch split points
    perm = draw(st.permutations(events))
    n_batches = draw(st.integers(min_value=1, max_value=3))
    return perm, n_batches


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(event_logs())
def test_any_order_any_batching_converges(spark, tmp_path_factory, log):
    events, n_batches = log
    tmp = tmp_path_factory.mktemp("prop")
    t = create_docs_table(spark, str(tmp / "tbl"), n_buckets=2)
    per = max(1, len(events) // n_batches)
    for i in range(0, len(events), per):
        batch = spark.createDataFrame(events[i : i + per], CHANGE_SCHEMA)
        apply_batch(t, batch, batch_id=i)
    expected = expected_state(
        pd.DataFrame(
            events,
            columns=["seq", "op", "doc_id", "tokens", "n_tok", "source", "ts"],
        )
    )
    assert_state_equal(t.read().toPandas(), expected)

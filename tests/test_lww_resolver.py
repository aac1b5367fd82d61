"""The lake table's one LWW resolver: its tie rule, checked as a property
in both write modes and after compaction against a pure-Python replay, and
the shape of the jobs built on it (one payload exchange per MoR merge, no
intermediate delta dir left behind by a CoW merge)."""

import os
import re

from hypothesis import HealthCheck, given, seed, settings
from hypothesis import strategies as st

from go_bqloader_spark.lake import LakeTable

PAGE_COLS = [
    ("url", "string"),
    ("warc_ts", "timestamp"),
    ("html", "binary"),
    ("text", "string"),
    ("lang", "string"),
]
CHANGE_DDL = (
    "op string, seq bigint, url string, warc_ts timestamp, "
    "html binary, text string, lang string"
)

# (url index, seq, op, batch): a tiny domain, so draws are full of
# verbatim duplicates and same-(key, seq) delete-vs-upsert pairs
_EVENT = st.tuples(
    st.integers(0, 3), st.integers(1, 5), st.sampled_from("IUD"), st.integers(0, 1)
)


def _url(i):
    return f"https://h{i}.ex/p"


def _row(url_i, seq, op):
    # the payload is a function of (key, seq): two I/U rows at the same
    # (key, seq) are verbatim redeliveries, as the change feed promises
    if op == "D":
        return (op, seq, _url(url_i), None, None, None, None)
    return (op, seq, _url(url_i), None, None, f"t{url_i}.{seq}", "en")


def _replay(events):
    """Reference replay of the tie rule: per key the greatest (seq,
    is_delete) wins; returns {url: (text, seq, deleted)} with tombstones."""
    best = {}
    for url_i, seq, op, _ in events:
        rank = (seq, op == "D")
        if url_i not in best or rank > best[url_i][0]:
            best[url_i] = (rank, _row(url_i, seq, op))
    return {
        r[2]: (r[5], r[1], r[0] == "D") for _, r in best.values()
    }


def _state(t):
    return {
        r["url"]: (r["text"], r["_seq"], r["_deleted"])
        for r in t.read(include_deleted=True).collect()
    }


@seed(20240601)
@settings(
    max_examples=5,
    deadline=None,
    database=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=st.lists(_EVENT, min_size=1, max_size=24))
def test_tie_rule_property(spark, tmp_path_factory, events):
    """MoR, CoW and MoR-then-compact all land on the replay's winners,
    tombstones included, whatever the batch split."""
    expect = _replay(events)
    root = tmp_path_factory.mktemp("tie")
    batches = [
        spark.createDataFrame(
            [_row(u, s, op) for u, s, op, b in events if b == i], CHANGE_DDL
        )
        for i in (0, 1)
    ]
    for name, mode, compact in (
        ("mor", "mor", False), ("cow", "cow", False), ("compact", "mor", True)
    ):
        t = LakeTable.create(
            spark, str(root / name), PAGE_COLS, key=["url", "warc_ts"],
            n_buckets=2, write_mode=mode,
        )
        for i, batch in enumerate(batches):
            t.merge(batch, batch_key=("q", i))
        if compact:
            t.compact(min_entries=1)
        assert _state(t) == expect, name


def _batch(spark, i):
    rows = [
        ("U", i * 10 + j, f"https://h{j}.ex/p", None, None, f"t{i}", "en")
        for j in range(6)
    ] + [("D", i * 10 + 9, "https://h0.ex/p", None, None, None, None)]
    return spark.createDataFrame(rows, CHANGE_DDL)


def test_mor_merge_write_has_one_exchange(spark, tmp_path, monkeypatch):
    """The MoR merge write job exchanges the payload exactly once — the
    resolver's bucket repartition; the sort + lag LWW adds none."""
    plans = []
    orig = LakeTable._finish_merge

    def spy(self, m, out_rows, *a, **kw):
        plans.append(out_rows._jdf.queryExecution().executedPlan().toString())
        return orig(self, m, out_rows, *a, **kw)

    monkeypatch.setattr(LakeTable, "_finish_merge", spy)
    t = LakeTable.create(spark, str(tmp_path / "t"), PAGE_COLS, n_buckets=4)
    t.merge(_batch(spark, 0), batch_key=("q", 0))
    assert len(plans) == 1
    exchanges = re.findall(r"\bExchange (\w+)\(([^)]*)\)", plans[0])
    assert len(exchanges) == 1, plans[0]
    kind, cols = exchanges[0]
    assert kind == "hashpartitioning" and cols.startswith("b#"), plans[0]


def test_cow_merge_leaves_no_delta_dir(spark, tmp_path):
    """A CoW merge writes the batch as a delta, rewrites the affected
    buckets from it and deletes it: every data dir on disk is one a
    manifest references."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), PAGE_COLS, n_buckets=4, write_mode="cow"
    )
    for i in range(2):
        t.merge(_batch(spark, i), batch_key=("q", i))
    on_disk = sorted(os.listdir(os.path.join(t.path, "data")))
    referenced = sorted({
        e["path"].split("/")[1]
        for m in t._walk_chain()
        for es in m["buckets"].values()
        for e in es
    })
    assert on_disk == referenced and len(on_disk) == 2
    assert {r["text"] for r in t.read().collect()} == {"t1"}

"""Queries of ``driver_queries.py`` against their DuckDB oracles on
planted edge inputs.

Each case copies the one sf0.001 table its query reads into a tmp sf
dir, plants an edge input, runs the engine query and the oracle SQL
over that dir, and compares them with the contract checker's
dtype-strict, representation-exact ``compare``:

- events: ``props`` set to ``{}`` on the 5th and 6th events (by ts,
  event_id) of user 12, so the JSON-``k`` series has two NULL ``y``
  values in the middle of a conversation;
- documents: doc 10 becomes 2,100 distinct tokens followed by
  ``xxja xxjb xxjc``, its own tokens 6..65 and ``xxjd xxje``, so the
  planted twin's full 65-token match sits past the 2048-token cap;
- degenerate events: user 3 becomes a constant conversation (every
  ``props`` ``{"k": 1}``, every ``value`` 42.0), user 7 keeps only
  its first two events and user 5's ``value`` becomes
  ``event_id mod 3``, so its paired differences tie; every other event
  gets ``(event_id·7) mod 5`` extra ``x`` tokens, because the
  generated ``props`` are always two tokens and a constant token
  series leaves the ACF and rank statistics all NULL.  The ACF, mid-rank and channel-triple queries
  run here against their oracles.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from cesium_spark import driver_queries as dq
from test_oracle_types import SF_DIR as SF
from tools.check_driver_contract import compare


def _null_k_events(out_dir) -> None:
    t = pq.read_table(f"{SF}/events.parquet")
    user = t.filter(pc.equal(t["user_id"], 12))
    order = pc.sort_indices(user, [("ts", "ascending"),
                                   ("event_id", "ascending")])
    blank = set(pc.take(user["event_id"], order)[4:6].to_pylist())
    props = [("{}" if e in blank else p) for e, p in
             zip(t["event_id"].to_pylist(), t["props"].to_pylist())]
    i = t.schema.get_field_index("props")
    t = t.set_column(i, t.schema.field(i), pa.array(props, pa.string()))
    pq.write_table(t, f"{out_dir}/events.parquet")


def _long_doc(out_dir) -> None:
    t = pq.read_table(f"{SF}/documents.parquet")
    ids = t["doc_id"].to_pylist()
    distinct = [f"w{i:04d}" for i in range(2100)]
    toks = distinct + ["xxja", "xxjb", "xxjc"] + distinct[5:65] + [
        "xxjd", "xxje"]
    assert 10 in ids and len(toks) == 2165
    text = " ".join(toks)
    texts = [text if d == 10 else x
             for d, x in zip(ids, t["text"].to_pylist())]
    chars = [len(text) if d == 10 else n
             for d, n in zip(ids, t["n_chars"].to_pylist())]
    for col, vals, typ in (("text", texts, pa.string()),
                           ("n_chars", chars, pa.int64())):
        i = t.schema.get_field_index(col)
        t = t.set_column(i, t.schema.field(i), pa.array(vals, typ))
    pq.write_table(t, f"{out_dir}/documents.parquet")


def _degenerate_events(out_dir) -> None:
    t = pq.read_table(f"{SF}/events.parquet")
    user = t.filter(pc.equal(t["user_id"], 7))
    order = pc.sort_indices(user, [("ts", "ascending"),
                                   ("event_id", "ascending")])
    dropped = set(pc.take(user["event_id"], order)[2:].to_pylist())
    t = t.filter(pa.array([e not in dropped
                           for e in t["event_id"].to_pylist()]))
    users = t["user_id"].to_pylist()
    props = [('{"k": 1}' if u == 3 else p + " x" * (e * 7 % 5))
             for u, e, p in zip(users, t["event_id"].to_pylist(),
                                t["props"].to_pylist())]
    values = [(42.0 if u == 3 else float(e % 3) if u == 5 else v)
              for u, e, v in zip(users, t["event_id"].to_pylist(),
                                 t["value"].to_pylist())]
    for col, vals, typ in (("props", props, pa.string()),
                           ("value", values, pa.float64())):
        i = t.schema.get_field_index(col)
        t = t.set_column(i, t.schema.field(i), pa.array(vals, typ))
    pq.write_table(t, f"{out_dir}/events.parquet")


# plant name -> (table it writes, planting function)
PLANTS = {"events": ("events", _null_k_events),
          "documents": ("documents", _long_doc),
          "degenerate": ("events", _degenerate_events)}

CASES = [
    # JSON-k series: the oracles that kept NULL y before the builder
    # pair filtered it
    ("ts_von_neumann", "events"),
    ("ts_turning_points", "events"),
    ("ts_page_hinkley", "events"),
    # JSON-k / value series that already filtered NULL y
    ("ts_esd", "events"),
    ("ts_theta", "events"),
    ("ts_theta_backtest", "events"),
    ("ts_snht", "events"),
    # substring oracle capped at the engine's 2048 tokens
    ("doc_substring_pairs", "documents"),
    # exact-integer kit: ACF numerators, mid-ranks, channel triple
    *[(name, "degenerate") for name in (
        "ts_pacf", "ts_hac_se", "ts_dominant_lag", "ts_ljung_box",
        "ts_spectral_entropy", "ts_ess", "ts_pettitt", "ts_spearman",
        "ts_kruskal", "ts_dunn", "ts_wilcoxon", "ts_partial_corr",
        "ts_cronbach")],
]


@pytest.mark.parametrize("name,plant", CASES, ids=[c[0] for c in CASES])
def test_planted_matches_oracle(spark, tmp_path, name, plant):
    table, plant_fn = PLANTS[plant]
    plant_fn(tmp_path)
    got = dq.QUERIES[name](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW {table} AS "
            f"SELECT * FROM '{tmp_path}/{table}.parquet'")
    exp = con.sql(dq.ORACLE_SQL[name]).df()
    assert len(got) > 0
    assert compare(name, got, exp) == []

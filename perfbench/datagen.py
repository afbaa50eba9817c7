"""Seeded generators for the benchmark's inputs.

``tables(out_dir, sf, seed)`` writes the TPC-H-ish star schema plus the
``events``, ``documents`` and ``embeddings`` tables the registry entries read
(one parquet per table, the layout ``sources.registry.load`` expects). The
distributions follow the read-only test data the repository's tests use:
uniform keys and measures, exponential event values, a 30-word document
vocabulary with ~5% near-duplicates (a copy of an earlier document plus a
trailing ``dup`` token) and a few exact copies, and unit-norm 64-d
embeddings. Row counts scale linearly with ``sf`` (sf0.1 = 600k lineitems).

``nested_polls(fixture_dir, out_dir)`` re-nests the flat realtime tables of
``sources.fixtures.generate`` into the shape a GTFS-rt decoder hands to dlt:
one parquet file per poll, each trip update carrying its stop-time updates as
an array of structs, and each alert carrying its four repeated children.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_EPOCH_US = {
    "1995-01-01": 788918400_000000,
    "1995-01-02": 789004800_000000,
    "2001-08-01": 996624000_000000,
    "2001-11-04": 1004832000_000000,
    "2024-01-01": 1704067200_000000,
    "2024-01-31": 1706659200_000000,
}
_DAY_US = 86_400_000_000
# repeated alert children, in the order dlt names the child tables
ALERT_CHILDREN = [
    "header_text__translation",
    "description_text__translation",
    "informed_entity",
    "active_period",
]


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    span = (_EPOCH_US[hi] - _EPOCH_US[lo]) // _DAY_US
    return _EPOCH_US[lo] + rng.integers(0, span + 1, n) * _DAY_US


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    vocab = np.asarray(_VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    roles = rng.random(n)
    for i in range(1, n):
        if roles[i] < 0.05:  # near-duplicate of an earlier document
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif roles[i] < 0.0516:  # exact copy
            texts[i] = texts[int(rng.integers(0, i))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.fromiter((len(t) for t in texts), np.int64, n)),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every testdata table at scale ``sf``; returns row counts."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 25), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    adjectives = "blue cold hot large new old red small".split()
    nouns = "anvil bolt gear gizmo plate ring rod widget".split()
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": _pick(
                    rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                "p_name": pa.array(
                    [f"{adjectives[a]} {nouns[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": _pick(
                    rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
                ),
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
                "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
                "o_orderpriority": _pick(
                    rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
                "l_linestatus": _pick(rng, ["F", "O"], n_li),
                "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", n_li)),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
                "ts": _ts(
                    np.sort(rng.integers(_EPOCH_US["2024-01-01"], _EPOCH_US["2024-01-31"], n_ev))
                ),
                "user_id": pa.array(rng.integers(0, n_users, n_ev)),
                "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
                "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
        "documents": _documents(rng, int(50_000 * sf)),
        "embeddings": _embeddings(rng, int(20_000 * sf)),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in out.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in out.items()}


def _group(children: pa.Table, parent_ref: pa.Array, parents: pa.Array) -> pa.ListArray:
    """``array<struct>`` per parent row, children in file order; an empty
    list for a parent without children (dlt lands no child row for it)."""
    pos = pc.index_in(parent_ref, value_set=parents).to_numpy(zero_copy_only=False)
    order = np.argsort(pos, kind="stable")
    offsets = np.concatenate([[0], np.cumsum(np.bincount(pos, minlength=len(parents)))])
    elems = pa.StructArray.from_arrays(
        [c.combine_chunks() for c in children.columns], children.column_names
    ).take(pa.array(order))
    return pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), elems)


def _unflatten(table: pa.Table, sep: str = "__") -> pa.Table:
    """Inverse of ``ingest.flatten_struct_paths``: ``a__b__c`` columns become
    nested struct ``a.b.c`` fields (first-appearance order kept)."""

    def build(members: list[tuple[list[str], pa.Array]]) -> dict[str, pa.Array]:
        groups: dict[str, list] = {}
        for path, col in members:
            groups.setdefault(path[0], []).append((path[1:], col))
        out = {}
        for head, inner in groups.items():
            if len(inner) == 1 and not inner[0][0]:
                out[head] = inner[0][1]
            else:
                fields = build(inner)
                out[head] = pa.StructArray.from_arrays(list(fields.values()), list(fields))
        return out

    cols = [(n.split(sep), table.column(n).combine_chunks()) for n in table.column_names]
    return pa.table(build(cols))


def _nest_children(parents: pa.Table, child_path: str) -> pa.ListArray:
    child = pq.read_table(child_path)
    body = _unflatten(child.drop(["_dlt_id", "_dlt_parent_id"]))
    return _group(
        body, child.column("_dlt_parent_id").combine_chunks(), parents.column("_dlt_id").combine_chunks()
    )


def nested_polls(fixture_dir: str, out_dir: str) -> dict[str, int]:
    """Write ``trip_updates/poll-<load>.parquet`` (one file per feed poll,
    keyed by the fixture's ``_dlt_load_id``) and ``alerts/poll-0.parquet`` in
    the nested decoder shape; returns the number of files per feed."""
    tu = pq.read_table(os.path.join(fixture_dir, "trip_updates.parquet"))
    stu_path = os.path.join(fixture_dir, "trip_updates__trip_update__stop_time_update.parquet")
    nested = _unflatten(tu.drop(["_dlt_id", "_dlt_load_id"])).append_column(
        "stop_time_update", _nest_children(tu, stu_path)
    )
    loads = tu.column("_dlt_load_id").combine_chunks()
    os.makedirs(os.path.join(out_dir, "trip_updates"), exist_ok=True)
    load_ids = sorted(pc.unique(loads).to_pylist())
    for load_id in load_ids:
        pq.write_table(
            nested.filter(pc.equal(loads, load_id)),
            os.path.join(out_dir, "trip_updates", f"poll-{load_id}.parquet"),
        )

    alerts = pq.read_table(os.path.join(fixture_dir, "alerts.parquet"))
    nested = alerts.drop(["_dlt_id", "_dlt_load_id"])
    for child in ALERT_CHILDREN:
        path = os.path.join(fixture_dir, f"alerts__alert__{child}.parquet")
        nested = nested.append_column(child, _nest_children(alerts, path))
    os.makedirs(os.path.join(out_dir, "alerts"), exist_ok=True)
    pq.write_table(nested, os.path.join(out_dir, "alerts", "poll-0.parquet"))
    return {"trip_updates": len(load_ids), "alerts": 1}

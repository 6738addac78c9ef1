"""Seeded input generators for the graft benchmark.

Every column is derived from (seed, salt, row id) through one 64-bit
mixing hash, the same hash-from-row-id scheme as `graft.GenScale`, with
the seed salted into every hash. The same seed therefore gives
byte-identical tables and a different seed gives different ones. The
program under test only ever sees the files written here.
"""
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)
_EPOCH_2024_US = 1704067200000000
_EPOCH_1995_US = 788918400000000
_DAY_US = 86400 * 1000000


def _mix(x):
    """splitmix64 finalizer over a uint64 array (wraps mod 2**64)."""
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def h(seed, salt, *cols):
    """Hash of (seed, salt, cols...) per row, as uint64."""
    with np.errstate(over="ignore"):
        x = _mix(np.uint64(seed) * _GOLDEN + np.uint64(salt))
        for c in cols:
            x = _mix(x ^ (np.asarray(c).astype(np.uint64) + _GOLDEN))
    return x


def hmod(seed, salt, n, *cols):
    return (h(seed, salt, *cols) % np.uint64(n)).astype(np.int64)


def unit(seed, salt, *cols):
    """Uniform in [0, 1) per row."""
    return (h(seed, salt, *cols) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _write(table, path, row_groups=16):
    rg = max(1, -(-table.num_rows // row_groups))
    pq.write_table(table, path, row_group_size=rg)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


# ---------------------------------------------------------------- changelog

def zipf_keys(seed, salt, n, keys, s):
    """`n` draws over `keys` keys with P(rank r) ∝ 1/r**s; ranks are
    scattered over the id space so the hot keys are not 0, 1, 2."""
    ranks = np.arange(1, keys + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -s)
    cdf /= cdf[-1]
    r = np.searchsorted(cdf, unit(seed, salt, np.arange(n)), side="right")
    r = np.minimum(r, keys - 1)
    perm = np.argsort(h(seed, salt + 1, np.arange(keys)), kind="stable")
    return perm[r].astype(np.int64)


def changelog(seed, n, keys, zipf_s, tombstone_share, jitter_s=120.0, salt=100):
    """A Debezium-style changelog: offsets are dense `event_id`s, keys are
    Zipf-skewed, and `ts` runs out of order against offsets by up to
    `jitter_s`. Returns numpy columns (ts in µs)."""
    ids = np.arange(n, dtype=np.int64)
    users = zipf_keys(seed, salt, n, keys, zipf_s) if n else np.zeros(0, np.int64)
    jitter = ((unit(seed, salt + 2, ids) * 2.0 - 1.0) * jitter_s * 1e6).astype(np.int64)
    ts = _EPOCH_2024_US + ids * 5000 + jitter  # 200 changes/s of event time
    u = unit(seed, salt + 3, ids)
    kinds = np.array(["signup", "click", "view", "purchase", "error"])
    live = (1.0 - tombstone_share)
    kind = np.where(u >= live, 4, np.minimum((u / live * 4).astype(np.int64), 3))
    cents = np.minimum(56000, (-5000.0 * np.log(unit(seed, salt + 4, ids) + 1e-9))).astype(np.int64)
    return {
        "event_id": ids,
        "ts": ts,
        "user_id": users,
        "event_type": kinds[kind],
        "value": cents / 100.0,
        "props": np.char.add(np.char.add('{"k": ', hmod(seed, salt + 5, 100, ids).astype(str)), "}"),
    }


def changelog_tables(out_dir, seed, n, keys, zipf_s=1.1, tombstone_share=0.1):
    """`events.parquet` (the changelog in the `events` table layout of TESTDATA.md) and
    `envelopes.parquet` (one Debezium-flattened JSON envelope per change,
    the wire format `Formats.parseDebezium` reads)."""
    os.makedirs(out_dir, exist_ok=True)
    c = changelog(seed, n, keys, zipf_s, tombstone_share)
    events = pa.table({
        "event_id": c["event_id"], "ts": _ts(c["ts"]), "user_id": c["user_id"],
        "event_type": c["event_type"], "value": c["value"], "props": c["props"],
    })
    ev_path = os.path.join(out_dir, "events.parquet")
    _write(events, ev_path)
    con = duckdb.connect()
    env = con.execute(
        f"""SELECT to_json({{'id': event_id, 'user_id': user_id, 'account': props,
                'registered_at': epoch_us(ts),
                '__deleted': CASE WHEN event_type = 'error' THEN 'true' ELSE 'false' END}})::VARCHAR
              AS value
            FROM '{ev_path}' ORDER BY event_id""").arrow()
    _write(env, os.path.join(out_dir, "envelopes.parquet"))
    return {"rows": n, "keys": keys, "zipf_s": zipf_s, "tombstone_share": tombstone_share,
            "redelivery_share": 0.1}


def stream_pool(out_dir, seed, n_files, file_rows, keys=20_000, zipf_s=1.1,
                tombstone_share=0.1, redelivery_share=0.1):
    """`n_files` fixed-size changelog files in `CdcStream.changeSchema`
    (ts as a µs long, op already classified). A `redelivery_share` of each
    file's rows re-sends changes from the previous few files verbatim,
    as an at-least-once broker does."""
    os.makedirs(out_dir, exist_ok=True)
    fresh_per_file = file_rows - int(round(file_rows * redelivery_share))
    c = changelog(seed, n_files * fresh_per_file, keys, zipf_s, tombstone_share, salt=200)
    op = np.where(c["event_type"] == "signup", "INSERT",
                  np.where(c["event_type"] == "error", "DELETE", "UPDATE"))
    cols = {"event_id": c["event_id"], "ts": c["ts"], "user_id": c["user_id"],
            "op": op, "value": c["value"]}
    for i in range(n_files):
        lo, hi = i * fresh_per_file, (i + 1) * fresh_per_file
        idx = np.arange(lo, hi)
        n_re = file_rows - fresh_per_file
        if n_re:
            back = min(lo, 3 * fresh_per_file)
            if back:
                re = lo - 1 - hmod(seed, 300 + i, back, np.arange(n_re))
            else:  # the first file redelivers its own earlier rows
                re = hmod(seed, 300 + i, fresh_per_file, np.arange(n_re)) + lo
            idx = np.concatenate([idx, re])
        t = pa.table({k: v[idx] for k, v in cols.items()})
        pq.write_table(t, os.path.join(out_dir, f"part-{i:05d}.parquet"))
    return {"rows": n_files * file_rows, "keys": keys, "zipf_s": zipf_s,
            "tombstone_share": tombstone_share, "redelivery_share": redelivery_share,
            "files": n_files, "file_rows": file_rows}


# ------------------------------------------------------------------- corpus

_VOCAB = np.array([
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window"])


def corpus(out_dir, seed, mult, changes):
    """The GenScale layout (star schema + events + documents + embeddings)
    at `mult` × the sf0.1 cardinalities, with GenScale's value shapes. The
    events table is the seeded changelog of `changelog_tables(**changes)`."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(15000 * mult), int(1000 * mult), int(20000 * mult)
    n_orders = int(150000 * mult)
    n_docs, n_vecs = int(5000 * mult), int(2000 * mult)
    w = lambda t, name: _write(t, os.path.join(out_dir, f"{name}.parquet"), row_groups=4)
    pick = lambda arr, idx: np.array(arr, dtype=object)[idx]

    w(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}), "region")
    w(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}), "nation")

    cid = np.arange(n_cust)
    w(pa.table({
        "c_custkey": cid, "c_name": [f"Customer#{i:09d}" for i in cid],
        "c_nationkey": hmod(seed, 1, 25, cid).astype(np.int32),
        "c_acctbal": np.round(hmod(seed, 2, 1100000, cid) / 100.0 - 1000.0, 2),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                             hmod(seed, 3, 5, cid)),
    }), "customer")

    sid = np.arange(n_supp)
    w(pa.table({
        "s_suppkey": sid, "s_name": [f"Supplier#{i:09d}" for i in sid],
        "s_nationkey": hmod(seed, 4, 25, sid).astype(np.int32),
        "s_acctbal": np.round(hmod(seed, 5, 1100000, sid) / 100.0 - 1000.0, 2),
    }), "supplier")

    pid = np.arange(n_part)
    adjs = ["large", "hot", "blue", "small", "dark", "light", "round", "flat"]
    nouns = ["ring", "bolt", "gear", "cog", "pin", "rod", "cap", "nut"]
    w(pa.table({
        "p_partkey": pid,
        "p_name": np.char.add(np.char.add(np.array(adjs)[hmod(seed, 6, 8, pid)], " "),
                              np.array(nouns)[hmod(seed, 7, 8, pid)]),
        "p_brand": np.char.add("Brand#", (hmod(seed, 8, 25, pid) + 1).astype(str)),
        "p_type": pick(["ECONOMY", "SMALL", "LARGE", "STANDARD", "PROMO", "MEDIUM"],
                       hmod(seed, 9, 6, pid)),
        "p_size": (hmod(seed, 10, 50, pid) + 1).astype(np.int32),
        "p_retailprice": np.round(900.0 + hmod(seed, 11, 1000, pid) / 10.0, 2),
    }), "part")

    oid = np.arange(n_orders)
    statuses = np.array(["O", "P", "F"])
    w(pa.table({
        "o_orderkey": oid, "o_custkey": hmod(seed, 12, n_cust, oid),
        "o_orderstatus": statuses[hmod(seed, 13, 3, oid)],
        "o_totalprice": np.round(1000.0 + hmod(seed, 14, 49900000, oid) / 100.0, 2),
        "o_orderdate": _ts(_EPOCH_1995_US + hmod(seed, 15, 2404, oid) * _DAY_US),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                                hmod(seed, 16, 5, oid)),
    }), "orders")

    lines = hmod(seed, 17, 7, oid) + 1
    lok = np.repeat(oid, lines)
    lln = (np.arange(len(lok)) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int64)
    w(pa.table({
        "l_orderkey": lok, "l_partkey": hmod(seed, 18, n_part, lok, lln),
        "l_suppkey": hmod(seed, 19, n_supp, lok, lln),
        "l_linenumber": lln.astype(np.int32),
        "l_quantity": (hmod(seed, 20, 50, lok, lln) + 1).astype(np.float64),
        "l_extendedprice": np.round(900.0 + hmod(seed, 21, 10410000, lok, lln) / 100.0, 2),
        "l_discount": hmod(seed, 22, 11, lok, lln) / 100.0,
        "l_tax": hmod(seed, 23, 9, lok, lln) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[hmod(seed, 24, 3, lok, lln)],
        "l_linestatus": statuses[hmod(seed, 25, 2, lok, lln)],
        "l_shipdate": _ts(_EPOCH_1995_US + hmod(seed, 26, 2500, lok, lln) * _DAY_US),
    }), "lineitem")

    props = changelog_tables(out_dir, seed, **changes)
    did = np.arange(n_docs)
    n_words = hmod(seed, 33, 90, did) + 10
    texts = [" ".join(_VOCAB[hmod(seed, 34, 31, np.full(k, d), np.arange(1, k + 1))])
             for d, k in zip(did, n_words)]
    lang_sel = hmod(seed, 32, 20, did)
    lang = np.select([lang_sel < 8, lang_sel < 11, lang_sel < 14, lang_sel < 17],
                     ["en", "de", "es", "fr"], "zh")
    w(pa.table({
        "doc_id": did, "text": texts, "lang": lang,
        "source": np.char.add("src", hmod(seed, 35, 20, did).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), "documents")

    vid = np.arange(n_vecs)
    dims = np.arange(64)
    vv, dd = np.meshgrid(vid, dims, indexing="ij")
    emb = (((hmod(seed, 36, 2001, vv % 10, dd) - 1000) / 1000.0) * 0.05
           + ((hmod(seed, 37, 2001, vv, dd) - 1000) / 1000.0) * 0.25).astype(np.float32)
    w(pa.table({
        "vec_id": vid,
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": (vid % 10).astype(np.int32),
    }), "embeddings")
    props.update({"mult": mult, "customers": n_cust, "orders": n_orders,
                  "lineitems": int(len(lok)), "documents": n_docs, "embeddings": n_vecs})
    return props


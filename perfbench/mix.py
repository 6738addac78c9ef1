"""The `batch_mix` call list, fixed by family before any result is seen.
A call that fails on some seed stays in the list and is counted.

Entries are (name, kind, Spark SQL, oracle). Kinds:
- `cdc`: the reference's batch path, `Formats.parseDebezium` over the
  Debezium envelopes and then the seven `Cdc` steps over the changelog;
  the oracle is the `SparkEntry.oracleSql` key of the matching `cdc_*` query.
- `entry`: a `SparkEntry.queries` entry; the oracle is its own key.
- `setup`: the psql-style read through `GraftSession.registerWarehouse` +
  `GraftSession.sql` that ends each set-up cycle (it is not in the
  passes); the oracle is DuckDB SQL over the raw tables.
"""

_STATS_TOP = """SELECT user_id, count(*) AS n_changes,
    count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_inserts,
    count(CASE WHEN event_type NOT IN ('signup', 'error') THEN 1 END) AS n_updates,
    count(CASE WHEN event_type = 'error' THEN 1 END) AS n_deletes,
    epoch_us(min(ts)) AS first_ts, epoch_us(max(ts)) AS last_ts,
    round(sum(round(value, 2)), 2) AS total_value
  FROM events GROUP BY user_id ORDER BY n_changes DESC, user_id LIMIT 20"""

CDC = [("parse", "cdc_envelope_parse"), ("classify", "cdc_classify"),
       ("history", "cdc_history"), ("current", "cdc_current"), ("stats", "cdc_stats"),
       ("dedup_redelivery", "cdc_dedup_redelivery"), ("scd2", "cdc_scd2"),
       ("compact", "cdc_compact")]

# A pass: the batch CDC path (windows and exchanges over the changelog),
# then a graph-ANN walk (an exact k-NN graph through the `cosine_sim`
# kernel, then a job and a Lineage cut per hop), which is the slowest
# call. Only nine calls fit the run-time budget; the rest of the
# analytics families are left to later workloads.
MIX = [("psql_stats_top", "setup",
        "SELECT * FROM user_account_stats ORDER BY n_changes DESC, user_id LIMIT 20", _STATS_TOP)] + [
    (n, "cdc", "", o) for n, o in CDC] + [
    ("ann_nsw_search", "entry", "", "ann_nsw_search"),
]
PASS = [m[0] for m in MIX if m[1] != "setup"]


def write_list(path):
    """The harness's view of the list: name, kind, SQL, SparkEntry oracle key."""
    with open(path, "w") as f:
        for name, kind, sql, oracle in MIX:
            f.write("\t".join([name, kind, " ".join(sql.split()), "" if kind == "setup" else oracle]) + "\n")


def oracle(name, entry_oracles):
    """DuckDB SQL that the output of call `name` must match."""
    for n, kind, _, o in MIX:
        if n == name:
            return o if kind == "setup" else entry_oracles.get(o)
    return None

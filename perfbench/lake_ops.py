"""Seeded statement stream for the lake_mixed workload, and its replay.

`stream(seed)` returns the set-up statements and the timed statement stream
against two lake tables: one on the catalog's default store (merge-on-read
with a row id, which the change feed needs) and one with
'graft.store'='parquet' (deletion vectors on). Each pass is a seeded
permutation of one fixed set of statement slots (kind, table), followed by
one scheduled step: compaction, snapshot expiry, orphan vacuum or a catalog
restart, in that rotation. The default store lives in memory, so a restart
evicts and re-attaches only the parquet-store table, the durable one. Rows
are a pure function of their id and the statement's salt, so `replay`
rebuilds every table state with plain Python dicts, independently of the
engine.

Batch shapes follow the registered lake ids at the benchmark's scale
(sf 0.01: 1 500 customers, 15 000 orders, 10 000 events):

- `pb_rows` is seeded like `MergeOps.seedSnapshotTable` with one
  customer-sized table (1 500 rows). Appends add 115 new keys, the
  key % 13 slice that `cdc_table_changes` and `table_vacuum` insert. A MERGE
  carries the `merge_into_mor` delta: the keys % 7 or % 5 of a 1 500-key
  range (471 rows; a key deleted earlier comes back as an insert) plus 115
  new keys. DELETE takes key % 11 = r (`sql_delete_mor`, `table_optimize`),
  UPDATE key % 7 = r (`sql_update`, `cdc_table_changes`).
- `pb_pq` is seeded with one orders-sized table (15 000 rows, as
  `sql_delete_dv` and `table_log_replay` seed it). Appends add 5 000 keys,
  the orders % 3 slice of `txn_multi_table`, `txn_multi_rw` and
  `txn_read_snapshot`, and 2 143 keys, the orders % 7 delta of
  `txn_multi_table` and `table_log_replay`. DELETE is a deletion-vector
  range delete of the oldest keys (`table_log_replay`'s
  `o_orderkey < 1000`), cut so that the newest 15 000 keys stay: the table
  keeps its size from pass to pass. UPDATE takes key % 7 = r.
- Maintenance uses the registered arguments: `rewriteSmallFiles` with a
  50 000-row target (`table_sort_order`), `expireSnapshots` keeping 2
  versions (`table_vacuum`).
"""
import random

TABLES = ["pb_rows", "pb_pq"]
SPACE_TABLE = "pb_pq"
SCHEMA = "id BIGINT, grp INT, amount DOUBLE, tag STRING"
PROPS = {
    "pb_rows": " TBLPROPERTIES ('graft.row-level'='merge-on-read', "
               "'graft.row-id'='id')",
    "pb_pq": " TBLPROPERTIES ('graft.store'='parquet', 'graft.delete.mode'='dv')",
}
DURABLE = ["pb_pq"]
CDC_TABLE = "pb_rows"
SEED_ROWS = {"pb_rows": 1500, "pb_pq": 15000}
# one pass: these (kind, table, batch) slots in seeded order, then one
# scheduled step; the slots fix the work per pass, the seed picks the order,
# key ranges and predicates
MIX = [("append", "pb_rows", 115), ("merge", "pb_rows", None),
       ("delete", "pb_rows", None), ("update", "pb_rows", None),
       ("snapshot_read", "pb_rows", None), ("cdc_read", "pb_rows", None),
       ("append", "pb_pq", 5000), ("append", "pb_pq", 2143),
       ("delete", "pb_pq", None), ("update", "pb_pq", None),
       ("snapshot_read", "pb_pq", None), ("timetravel_read", "pb_pq", None)]
SCHEDULE = ["compact", "expire", "vacuum", "restart"]
PASS_LEN = len(MIX) + 1
KEEP_VERSIONS = 2
COMPACT_TARGET_ROWS = 50000
WARM_PASSES = 4
MERGE_SPAN, MERGE_NEW = 1500, 115
MERGE_MATCH = "(id % 7 = 0 OR id % 5 = 0)"


def _merge_key(i):
    return i % 7 == 0 or i % 5 == 0


def _rows_sql(lo, hi, mul, salt, tag, where=""):
    return (f"SELECT id, CAST(id % 16 AS INT) AS grp, "
            f"CAST((id * {mul} + {salt}) % 100000 AS DOUBLE) / 100 AS amount, "
            f"concat('{tag}', CAST(id % 7 AS STRING)) AS tag "
            f"FROM range({lo}, {hi}){where}")


def _row(i, mul, salt, tag):
    return (i % 16, ((i * mul + salt) % 100000) / 100, f"{tag}{i % 7}")


def _append(table, lo, hi, salt):
    return {"kind": "append", "table": table, "lo": lo, "hi": hi, "salt": salt,
            "sql": f"INSERT INTO graft.{table} " + _rows_sql(lo, hi, 37, salt, "a")}


def _delete(table, mod, rem, below):
    where = f"id % {mod} = {rem} AND " if mod > 1 else ""
    return {"kind": "delete", "table": table, "mod": mod, "rem": rem,
            "below": below,
            "sql": f"DELETE FROM graft.{table} WHERE {where}id < {below}"}


class _Gen:
    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.next_id = dict(SEED_ROWS)
        self.salt = 0

    def op(self, kind, t, batch=None):
        r = self.rng
        self.salt += 1
        s = self.salt
        top = self.next_id[t]
        if kind == "append":
            self.next_id[t] += batch
            return _append(t, top, top + batch, s)
        if kind == "merge":
            lo = r.randrange(0, top - MERGE_SPAN + 1)
            hi = lo + MERGE_SPAN
            self.next_id[t] += MERGE_NEW
            src = (_rows_sql(lo, hi, 31, s, "m", f" WHERE {MERGE_MATCH}")
                   + " UNION ALL " + _rows_sql(top, top + MERGE_NEW, 31, s, "m"))
            return {"kind": kind, "table": t, "lo": lo, "hi": hi,
                    "new_lo": top, "new_hi": top + MERGE_NEW, "salt": s,
                    "sql": f"MERGE INTO graft.{t} t USING ({src}) s "
                           "ON t.id = s.id WHEN MATCHED THEN UPDATE SET "
                           "amount = s.amount, tag = s.tag WHEN NOT MATCHED "
                           "THEN INSERT (id, grp, amount, tag) VALUES "
                           "(s.id, s.grp, s.amount, s.tag)"}
        if kind == "delete":
            if t == "pb_pq":  # keep the newest SEED_ROWS keys
                return _delete(t, 1, 0, top - SEED_ROWS[t])
            return _delete(t, 11, r.randrange(11), top)
        if kind == "update":
            rem = r.randrange(7)
            return {"kind": kind, "table": t, "mod": 7, "rem": rem,
                    "sql": f"UPDATE graft.{t} SET amount = amount + 1.25, "
                           f"tag = 'u' WHERE id % 7 = {rem}"}
        if kind == "snapshot_read":
            return {"kind": kind, "table": t, "sql": f"SELECT * FROM graft.{t}"}
        if kind == "timetravel_read":
            return {"kind": kind, "table": t, "back": r.choice([1, 2])}
        if kind == "cdc_read":
            return {"kind": kind, "table": t, "back": 2}
        raise ValueError(kind)

    @staticmethod
    def scheduled(step, table):
        if step == "compact":
            return {"kind": "compact", "table": table,
                    "target_rows": COMPACT_TARGET_ROWS}
        if step == "expire":
            return {"kind": "expire", "table": table, "keep": KEEP_VERSIONS}
        if step == "vacuum":
            return {"kind": "vacuum", "table": table}
        return {"kind": "restart", "tables": DURABLE}


def stream(seed, passes=64):
    """(setup_ops, ops) for one run. Set-up creates and seeds both tables,
    then runs WARM_PASSES passes of every slot plus every maintenance step so
    that the timed stream starts warm; its operations come from a
    seed-independent generator, so set-up work is the same on every run."""
    warm = _Gen(0)
    setup = []
    for t in TABLES:
        setup.append({"kind": "create", "table": t,
                      "sql": f"CREATE TABLE graft.{t} ({SCHEMA}){PROPS[t]}"})
        setup.append(_append(t, 0, SEED_ROWS[t], 0))
    for _ in range(WARM_PASSES):
        setup.extend(warm.op(*slot) for slot in MIX)
    for t in TABLES:
        setup.extend(warm.scheduled(step, t) for step in SCHEDULE[:-1])
    setup.append(warm.scheduled("restart", None))
    gen = _Gen(seed)
    gen.next_id = dict(warm.next_id)
    gen.salt = 1000
    ops = []
    for p in range(passes):
        slots = list(MIX)
        gen.rng.shuffle(slots)
        ops.extend(gen.op(*slot) for slot in slots)
        step = SCHEDULE[p % len(SCHEDULE)]
        # compaction and vacuum work on the file-backed table; expiry
        # alternates between the two
        table = (SPACE_TABLE if step != "expire"
                 else TABLES[(p // len(SCHEDULE)) % 2])
        ops.append(gen.scheduled(step, table))
    return setup, ops


def check_ops():
    """Untimed writes after the stream: the version before them is read
    back by time travel, the state after them as the final snapshot."""
    return [_delete(t, 13, 0, 1 << 40) for t in TABLES]


def apply(state, op):
    """Apply one statement to {table: {id: (grp, amount, tag)}}."""
    kind = op["kind"]
    if kind == "create":
        state[op["table"]] = {}
    elif kind == "append":
        rows = state[op["table"]]
        for i in range(op["lo"], op["hi"]):
            rows[i] = _row(i, 37, op["salt"], "a")
    elif kind == "merge":
        rows = state[op["table"]]
        keys = [i for i in range(op["lo"], op["hi"]) if _merge_key(i)]
        for i in keys + list(range(op["new_lo"], op["new_hi"])):
            grp, amount, tag = _row(i, 31, op["salt"], "m")
            if i in rows:
                rows[i] = (rows[i][0], amount, tag)
            else:
                rows[i] = (grp, amount, tag)
    elif kind == "delete":
        rows = state[op["table"]]
        for i in [i for i in rows
                  if i % op["mod"] == op["rem"] and i < op["below"]]:
            del rows[i]
    elif kind == "update":
        rows = state[op["table"]]
        for i, (grp, amount, tag) in rows.items():
            if i % op["mod"] == op["rem"]:
                rows[i] = (grp, amount + 1.25, "u")


def replay(setup, ops, upto):
    """Table states after set-up and the first `upto` timed statements."""
    state = {}
    for op in setup + ops[:upto]:
        apply(state, op)
    return state


def as_rows(table_state):
    return [[i, *table_state[i]] for i in sorted(table_state)]

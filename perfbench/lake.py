"""`lake_ingest` op log and its reference model.

`make_plan` writes the seeded op log the harness replays on a versioned
table: an initial append, then cycles of a sink append, skewed-key
upserts, a predicate delete and reads (latest, as-of, change feed,
SQL), each cycle closed by a compaction, and a vacuum at the end. `Model`
replays the same log in DuckDB and gives the rows every read must
return, plus the byte counts behind the write and space ratios.
"""
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema([("id", pa.int64()), ("grp", pa.int32()),
                    ("amount", pa.int64()), ("note", pa.string())])
COLUMNS = "id, grp, amount, note"
WRITES = {"append", "sink", "merge", "delete", "compact", "vacuum"}
READS = {"read_latest", "read_asof", "read_changes", "read_sql"}
# one cycle of the log; the seed sets each op's keys, values, predicate
# and the versions it reads, not the order of kinds, so every seed does
# the same kinds of work in the same places
CYCLE = ["sink", "read_latest", "merge", "read_asof", "delete",
         "read_changes", "read_sql"]
SQL = ("SELECT grp, count(*) AS n, sum(amount) AS amount FROM {table} "
       "WHERE grp BETWEEN %d AND %d GROUP BY grp")


def row_bytes(batch):
    """Logical size of user rows: 8-byte id and amount, 4-byte grp and
    the UTF-8 note."""
    return 20 * batch.num_rows + sum(len(n.encode()) for n in
                                     batch.column("note").to_pylist())


def make_plan(out, seed, initial_rows, batch_rows, cycles, groups, files):
    """Write `ops.tsv` and its batch files into `out`; return the op
    list as (kind, args) pairs."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    ids = []          # live-or-dead ids in insertion order
    next_id = [0]
    nbatch = [0]

    def write_batch(new_ids):
        n = len(new_ids)
        notes = [f"n{v:016x}" for v in rng.integers(0, 2 ** 62, n)]
        t = pa.table({"id": pa.array(new_ids, pa.int64()),
                      "grp": pa.array(rng.integers(0, groups, n), pa.int32()),
                      "amount": pa.array(rng.integers(100, 100_000, n),
                                         pa.int64()),
                      "note": pa.array(notes, pa.string())}, schema=SCHEMA)
        name = f"b{nbatch[0]:03d}.parquet"
        nbatch[0] += 1
        pq.write_table(t, os.path.join(out, name))
        return name

    def fresh(n):
        new = list(range(next_id[0], next_id[0] + n))
        next_id[0] += n
        ids.extend(new)
        return new

    def skewed(n):
        """Upsert keys: mostly recent ids, some old ones, some new."""
        recent = ids[-max(1, len(ids) // 5):]
        picks = set()
        while len(picks) < int(n * 0.9):
            pool = recent if rng.random() < 0.8 else ids
            picks.add(pool[int(rng.integers(0, len(pool)))])
        return sorted(picks) + fresh(n - len(picks))

    ops = [("append", {"batch": write_batch(fresh(initial_rows))})]
    commits = [0]
    sink_id = 0
    for _ in range(cycles):
        for kind in CYCLE:
            g = int(rng.integers(0, groups))
            if kind == "sink":
                sink_id += 1
                a = {"batch": write_batch(fresh(batch_rows)),
                     "batch_id": sink_id}
            elif kind == "merge":
                a = {"batch": write_batch(skewed(batch_rows))}
            elif kind == "delete":
                a = {"where": f"grp = {g} AND amount % 4 = "
                              f"{int(rng.integers(0, 4))}"}
            elif kind == "read_latest":
                a = {"where": f"grp = {g}"}
            elif kind == "read_asof":
                back = commits[:-1] or commits
                a = {"at": back[int(rng.integers(0, len(back)))],
                     "where": f"grp = {g}"}
            elif kind == "read_changes":
                lo = commits[max(0, len(commits) - 4)]
                a = {"from": lo, "to": commits[-1]}
            else:
                lo = int(rng.integers(0, groups - groups // 4))
                a = {"sql": SQL % (lo, lo + groups // 4)}
            if kind in WRITES:
                commits.append(len(ops))
            ops.append((kind, a))
        commits.append(len(ops))
        ops.append(("compact", {"files": files}))
    ops.append(("vacuum", {}))
    with open(os.path.join(out, "ops.tsv"), "w") as f:
        f.write(f"#warm\t{2 + len(CYCLE)}\n")
        for kind, a in ops:
            f.write("\t".join([kind] + [f"{k}={v}" for k, v in a.items()])
                    + "\n")
    return ops


class Model:
    """The op log replayed in DuckDB. `versions` maps each write op to
    the table version it produced, as the harness reported it."""

    def __init__(self, plan_dir, ops, versions):
        self.con = con = duckdb.connect()
        con.execute("CREATE TABLE t (id BIGINT, grp INTEGER, amount BIGINT, "
                    "note VARCHAR)")
        con.execute("CREATE TABLE feed AS SELECT *, 0::BIGINT AS "
                    "_commit_version, ''::VARCHAR AS _change_type "
                    "FROM t WHERE false")
        self.expected = {}
        self.submitted_bytes = 0
        asof = {int(a["at"]) for k, a in ops if k == "read_asof"}
        for i, (kind, a) in enumerate(ops):
            name = f"{i:03d}_{kind}"
            if "batch" in a:
                path = os.path.join(plan_dir, a["batch"])
                self.submitted_bytes += row_bytes(pq.read_table(path))
                con.execute(f"CREATE OR REPLACE TEMP VIEW b AS "
                            f"SELECT {COLUMNS} FROM read_parquet('{path}')")
            v = versions.get(i)
            if kind in ("append", "sink"):
                con.execute(f"INSERT INTO feed SELECT *, {v}, 'insert' FROM b")
                con.execute("INSERT INTO t SELECT * FROM b")
            elif kind == "merge":
                con.execute(f"INSERT INTO feed SELECT b.*, {v}, CASE WHEN "
                            f"b.id IN (SELECT id FROM t) THEN 'update' "
                            f"ELSE 'insert' END FROM b")
                con.execute("DELETE FROM t WHERE id IN (SELECT id FROM b)")
                con.execute("INSERT INTO t SELECT * FROM b")
            elif kind == "delete":
                con.execute(f"INSERT INTO feed SELECT *, {v}, 'delete' "
                            f"FROM t WHERE {a['where']}")
                con.execute(f"DELETE FROM t WHERE {a['where']}")
            elif kind in READS:
                if kind == "read_latest":
                    sql = f"SELECT * FROM t WHERE {a['where']}"
                elif kind == "read_asof":
                    sql = f"SELECT * FROM snap_{a['at']} WHERE {a['where']}"
                elif kind == "read_changes":
                    lo, hi = versions[int(a["from"])], versions[int(a["to"])]
                    sql = (f"SELECT * FROM feed WHERE "
                           f"_commit_version BETWEEN {lo} AND {hi}")
                else:
                    sql = a["sql"].replace("{table}", "t")
                con.execute(f"CREATE TABLE exp_{i} AS {sql}")
                self.expected[name] = f"SELECT * FROM exp_{i}"
            if i in asof:
                # the snapshot stays as it was: copy it
                con.execute(f"CREATE TABLE snap_{i} AS SELECT * FROM t")
        # results/final is the table at the end of the log
        self.expected["final"] = "SELECT * FROM t"
        self.live_bytes = con.execute(
            "SELECT 20 * count(*) + coalesce(sum(strlen(note)), 0) FROM t"
        ).fetchone()[0]

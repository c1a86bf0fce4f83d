"""Output checks, as lists of (name, ok, detail).

- query_board: every query's warm-pass result against its DuckDB oracle
  SQL on the same tables, compared as the repo's oracle gate compares:
  sorted column names, row count, md5 over the sorted canonical rows.
- table_ingest: every read's result, the final state and three
  time-travelled states against a model that replays the same op log.
"""
from collections import Counter
from pathlib import Path

import duckdb

import gen

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(con, rel_sql):
    rel = con.sql(rel_sql)
    cols = sorted(rel.columns)
    collist = ", ".join(f'COALESCE(CAST("{c}" AS VARCHAR), \'\\x00NULL\')' for c in cols)
    h, n = con.sql(f"SELECT md5(string_agg(r, '\\n' ORDER BY r)), COUNT(*) FROM "
                   f"(SELECT concat_ws('|', {collist}) AS r FROM ({rel_sql}))").fetchone()
    return cols, n, h


def query_board(raw, data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = []
    results = raw["extra"]["results_dir"]
    for name, sql in sorted(raw["extra"]["oracle_sql"].items()):
        if not sql:
            out.append((name, False, "no oracle SQL"))
            continue
        try:
            got = canon(con, f"SELECT * FROM read_parquet('{results}/{name}/*.parquet')")
            want = canon(con, sql)
        except Exception as e:  # a missing result or an oracle error is a failed check
            out.append((name, False, f"compare error: {e}"))
            continue
        out.append((name, got == want, "" if got == want else f"spark {got} oracle {want}"))
    return out


class IngestModel:
    """The sink table as a multiset of (k, v) rows per key, with running
    (count, sum) per key, driven by the op log alone."""

    def __init__(self):
        self.rows = {k: Counter() for k in range(gen.KEYS)}
        self.agg = {k: [0, 0] for k in range(gen.KEYS)}
        self.ingested_rows = 0

    def _insert(self, k, v):
        self.ingested_rows += 1
        self._add(k, v)

    def _add(self, k, v, c=1):
        self.rows[k][v] += c
        self.agg[k][0] += c
        self.agg[k][1] += v * c

    def _remove(self, k, v):
        c = self.rows[k].pop(v)
        self.agg[k][0] -= c
        self.agg[k][1] -= v * c
        return c

    def apply(self, kind, args):
        if kind == "append":
            for i in range(int(args[0]), int(args[1])):
                self._insert(gen.key_of(i), i)
        elif kind == "stream":
            for i in range(int(args[1]), int(args[2])):
                self._insert(gen.key_of(i), i)
        elif kind == "merge":
            off = int(args[2])
            src = [(gen.key_of(i), i) for i in range(int(args[0]), int(args[1]))]
            matched = [(k, v, self.rows[k][v]) for k, v in src if self.rows[k][v] > 0]
            inserts = [(k, v) for k, v in src if self.rows[k][v] == 0]
            for k, v, _ in matched:
                self._remove(k, v)
            for k, v, c in matched:
                self._add(k, v + off, c)
            for k, v in inserts:
                self._insert(k, v)
        elif kind == "update":
            m, r, off = (int(a) for a in args)
            for k in range(gen.KEYS):
                if k % m == r:
                    old = self.rows[k]
                    self.rows[k] = Counter({v + off: c for v, c in old.items()})
                    self.agg[k][1] += off * self.agg[k][0]
        elif kind == "delete":
            for k in range(int(args[0]), int(args[1])):
                self.rows[k] = Counter()
                self.agg[k] = [0, 0]

    def totals(self, keys=None):
        ks = range(gen.KEYS) if keys is None else keys
        return [sum(self.agg[k][0] for k in ks), sum(self.agg[k][1] for k in ks)]

    def per_key(self):
        return [[k, n, s] for k, (n, s) in sorted(self.agg.items()) if n > 0]


def ingest(raw, data_dir):
    """Returns (checks, model) with the model at the last op run."""
    log = [l.split("\t") for l in (Path(data_dir) / "log.tsv").read_text().splitlines()]
    ops = {o["log_index"]: o for o in raw["ops"] if "log_index" in o}
    model, out = IngestModel(), []
    snapshots = {}
    last = raw["extra"]["last_log_index"]
    for idx, (_, kind, *args) in enumerate(log[:last + 1]):
        op = ops.get(idx)
        if op is None or not op["ok"]:
            continue  # a failed op changed nothing; it already counts as failed
        if kind.startswith("read"):
            if kind == "read_full":
                want = model.totals()
            elif kind == "read_range":
                want = model.totals(range(int(args[0]), int(args[1])))
            else:
                want = snapshots[int(args[0])]["totals"]
            ok = op["result"] == want
            out.append((f"{kind}@{idx}", ok, "" if ok else f"got {op['result']} want {want}"))
        else:
            model.apply(kind, args)
            snapshots[idx] = {"totals": model.totals(), "per_key": model.per_key()}
    for st in raw["extra"]["states"]:
        i = st["after_log_index"]
        want = model.per_key() if i == last else snapshots[i]["per_key"]
        ok = st["rows"] == want
        out.append((f"state@{i}", ok, "" if ok else "per-key state differs"))
    return out, model

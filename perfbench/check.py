"""Independent checker for the benchmark's outputs.

It reads only the generated inputs, the facts the generator planted and
the files each run wrote, and re-derives what the output must be with
DuckDB. `Checker.check(run)` returns a list of problems; an empty list
means the run's output is right.
"""
import os

import duckdb


def _glob(path):
    return os.path.join(path, "**", "*.parquet")


def _has_parquet(path):
    for _, _, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


class Checker:
    def __init__(self, workload, data_dir, facts):
        self.workload, self.data, self.facts = workload, data_dir, facts
        self.db = duckdb.connect()
        self.db.execute("SET threads TO 2")
        self._fingerprints = {}
        getattr(self, f"_prepare_{workload}")()

    def check(self, run):
        if run["status"] != "SUCCESS":
            return [f"status {run['status']}: {run['error'][:300]}"]
        if not _has_parquet(run["sink_path"]):
            return ["no parquet output at the sink path"]
        return getattr(self, f"_check_{self.workload}")(run)

    def _read(self, path, hive=False):
        opts = ", hive_partitioning = true, hive_types_autocast = false" if hive else ""
        return f"read_parquet('{_glob(path)}'{opts})"

    def _scalar(self, sql):
        return self.db.execute(sql).fetchone()[0]

    # ------------------------------------------------------------ etl_enrich

    def _prepare_etl_enrich(self):
        li, od = os.path.join(self.data, "lineitem"), os.path.join(self.data, "orders")
        self.db.execute(f"""
            CREATE TABLE expected AS
            WITH li AS (SELECT DISTINCT * FROM {self._read(li)}
                        WHERE l_extendedprice IS NOT NULL AND l_shipdate IS NOT NULL),
                 d AS (SELECT l_orderkey, l_linenumber, o_custkey,
                              l_extendedprice * (1 - l_discount) AS revenue,
                              strftime(l_shipdate, '%Y-%m') AS ship_month
                       FROM li JOIN {self._read(od)} o ON l_orderkey = o.o_orderkey)
            SELECT *, row_number() OVER (PARTITION BY o_custkey
                       ORDER BY revenue DESC, l_orderkey, l_linenumber) AS cust_rank
            FROM d""")
        f = self.facts
        self.expected_rows = f["lines_written"] - f["null_rows"] - f["dup_extras"]
        got = self._scalar("SELECT count(*) FROM expected")
        if got != self.expected_rows:
            raise RuntimeError(f"reference derivation has {got} rows, planted facts say "
                               f"{self.expected_rows}")

    def _check_etl_enrich(self, run):
        problems = []
        out = self._read(run["sink_path"], hive=True)
        cols = "l_orderkey, l_linenumber, o_custkey, round(revenue, 6) AS revenue, " \
               "ship_month, cust_rank"
        n_out = self._scalar(f"SELECT count(*) FROM {out}")
        if n_out != self.expected_rows:
            problems.append(f"{n_out} rows written, expected {self.expected_rows}")
        for a, b, what in (("o", "e", "unexpected"), ("e", "o", "missing")):
            diff = self._scalar(f"""
                WITH o AS (SELECT {cols} FROM {out}), e AS (SELECT {cols} FROM expected)
                SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})""")
            if diff:
                problems.append(f"{diff} {what} rows against the re-derived output")
        planted = self.facts["null_rows"] + self.facts["dup_extras"]
        q = run["quarantine_path"]
        n_q = self._scalar(f"SELECT count(*) FROM {self._read(q)}") if _has_parquet(q) else 0
        if n_q != planted or run["quarantined"] != planted:
            problems.append(f"quarantine holds {n_q} rows and the run reported "
                            f"{run['quarantined']}; planted nulls + duplicates = {planted}")
        return problems

    # ----------------------------------------------------------- curate_docs

    def _prepare_curate_docs(self):
        self.survivors = set(self.facts["expected_survivors"])
        self.violators = set(self.facts["violators"])

    def _check_curate_docs(self, run):
        problems = []
        out = self._read(run["sink_path"])
        ids = {r[0] for r in self.db.execute(f"SELECT DISTINCT doc_id FROM {out}").fetchall()}
        if ids & self.violators:
            problems.append(f"{len(ids & self.violators)} planted rule violators kept")
        for fam in self.facts["families"]:
            kept = ids.intersection(fam)
            if kept != {min(fam)}:
                problems.append(f"duplicate family {sorted(fam)} kept {sorted(kept)}")
                break
        if ids != self.survivors:
            problems.append(f"kept {len(ids)} documents, expected {len(self.survivors)} "
                            f"({len(ids - self.survivors)} extra, "
                            f"{len(self.survivors - ids)} missing)")
        over = self._scalar(f"""SELECT count(*) FROM (SELECT seq_id FROM {out}
                                GROUP BY seq_id HAVING sum(tok_end - tok_start) > 256)""")
        if over:
            problems.append(f"{over} packed sequences longer than seqLen 256")
        return problems

    # ------------------------------------------------------------ many_small

    def _prepare_many_small(self):
        li = os.path.join(self.data, "lineitem.parquet")
        self.db.execute(f"""
            CREATE TABLE q1 AS
            SELECT l_returnflag, l_linestatus, sum(l_quantity) AS total_quantity,
                   sum(l_extendedprice * (1 - l_discount)) AS total_revenue,
                   avg(l_extendedprice) AS avg_price, count(*) AS n_lines
            FROM {self._read(li)} WHERE l_quantity > 5 GROUP BY ALL""")
        self._prepare_stream()

    def _check_many_small(self, run):
        if run["pipeline"].startswith("quickstart-10-"):
            return self._check_stream(run)
        problems = []
        out = self._read(run["sink_path"], hive=True)
        cols = [c[0] for c in self.db.execute(f"DESCRIBE SELECT * FROM {out}").fetchall()]
        keep = ", ".join(f'"{c}"' for c in sorted(cols) if not c.startswith("_lineage"))
        n, fp = self.db.execute(f"""
            SELECT count(*), md5(coalesce(string_agg(r, '|' ORDER BY r), ''))
            FROM (SELECT CAST(ROW({keep}) AS VARCHAR) AS r FROM {out})""").fetchone()
        if run["loaded"] >= 0 and run["loaded"] != n:
            problems.append(f"run reported {run['loaded']} rows loaded, {n} written")
        # every run of one example writes the same rows
        first = self._fingerprints.setdefault(run["pipeline"], (n, fp))
        if first != (n, fp):
            problems.append(f"output differs from the first run of {run['pipeline']} "
                            f"({n} rows vs {first[0]})")
        if run["pipeline"].startswith("quickstart-1-"):
            bad = self._scalar(f"""
                SELECT count(*) FROM q1 e FULL JOIN {out} o
                  USING (l_returnflag, l_linestatus)
                WHERE o.n_lines IS DISTINCT FROM e.n_lines
                   OR o.total_quantity IS DISTINCT FROM e.total_quantity
                   OR abs(o.total_revenue - e.total_revenue) > 0.006
                   OR abs(o.avg_price - e.avg_price) > 0.006
                   OR o.total_revenue IS NULL OR e.total_revenue IS NULL""")
            if bad:
                problems.append(f"{bad} aggregate groups differ from the re-derived rollup")
        return problems

    # ------------------------------------------------ the streaming example

    def _prepare_stream(self):
        ev = os.path.join(self.data, "events")
        self.db.execute(f"""
            CREATE TABLE windows AS
            SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, user_id,
                   count(*) AS n_events, sum(value) AS total_value
            FROM {self._read(ev)} GROUP BY ALL""")
        # the watermark ends at the latest event time minus the 2-hour delay;
        # append mode emits exactly the windows that closed before it
        self.closed_windows = self._scalar(f"""
            SELECT count(*) FROM windows WHERE window_start + INTERVAL 1 HOUR <=
                (SELECT max(ts) FROM {self._read(ev)}) - INTERVAL 2 HOUR""")

    def _check_stream(self, run):
        problems = []
        out = f"read_parquet('{os.path.join(run['sink_path'], '*.parquet')}')"
        n_out = self._scalar(f"SELECT count(*) FROM {out}")
        if n_out != self.closed_windows:
            problems.append(f"{n_out} windows emitted, {self.closed_windows} closed")
        bad = self._scalar(f"""
            SELECT count(*) FROM {out} o LEFT JOIN windows e USING (window_start, user_id)
            WHERE e.n_events IS DISTINCT FROM o.n_events
               OR abs(e.total_value - o.total_value) > 0.006""")
        if bad:
            problems.append(f"{bad} windows differ from the batch aggregate")
        if run["loaded"] != self.facts["events"]:
            problems.append(f"stream read {run['loaded']} events, {self.facts['events']} written")
        return problems

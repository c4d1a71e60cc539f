"""Correctness check of the importer benchmark, made apart from the program.

DuckDB derives every expected entity row from the generated records
(``events.parquet``), following the reference semantics and the field
mapping documented in ``ImporterCore``:

* ``user_id`` is the workflow-instance key, tenant ``t<key % 10>``;
* ``signup`` starts an instance, ``purchase`` completes it and carries the
  amount, the last ``click`` by (ts, event_id) is the last click value, an
  ``error`` with payload ``k >= 90`` fails it;
* the transaction-request, batch, variable and task tables follow the
  field mapping of their ``ImporterCore`` builds.

The wide transfer table alone is checked against the oracle SQL the
program publishes (``ImporterCore.impEntityWideSql``), which is written
apart from the Spark build it checks.

A row counts for the records it folds: a wrong, missing or extra entity
row fails every record of its instance; a wrong per-record row (variables,
tasks) fails one. A read fails when its rows differ from the same filter
applied to the expected table. Properties of the method sit beside the
row comparison: the records folded sum to the records published, the
amounts to the generated purchase values, and the rows to the instances.
"""
import glob
import os

import duckdb

TRANSFER_COLS = ["transfer_key", "tenant", "started_ms", "completed_ms", "amount",
                 "last_click_value", "status", "n_events"]
TRANSFER_TYPES = ["BIGINT", "VARCHAR", "BIGINT", "BIGINT", "VARCHAR", "VARCHAR",
                  "VARCHAR", "BIGINT"]

# (ts, event_id) as one orderable number: the last-write order
ORD = "(ts_ms::HUGEINT * 1000000000 + event_id)"
MONEY = "CAST(CAST({} AS DECIMAL(38,2)) AS VARCHAR)"

EXPECTED = {
    "transfers": ("transfer_key", f"""
        SELECT user_id AS transfer_key, 't' || (user_id % 10) AS tenant,
          COALESCE(MIN(ts_ms) FILTER (WHERE event_type = 'signup'), -1) AS started_ms,
          COALESCE(MAX(ts_ms) FILTER (WHERE event_type = 'purchase'), -1) AS completed_ms,
          COALESCE({MONEY.format("SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'purchase')")}, '') AS amount,
          COALESCE({MONEY.format(f"arg_max(CAST(value AS DECIMAL(18,2)), {ORD}) FILTER (WHERE event_type = 'click')")}, '') AS last_click_value,
          CASE WHEN bool_or(event_type = 'error' AND k >= 90) THEN 'FAILED'
               WHEN bool_or(event_type = 'purchase') THEN 'COMPLETED'
               ELSE 'IN_PROGRESS' END AS status,
          COUNT(*) AS n_events
        FROM ev GROUP BY user_id"""),
    "txnreq": ("txn_key", f"""
        WITH s AS (
          SELECT *, CASE
            WHEN event_type = 'signup' THEN 'RECEIVED'
            WHEN event_type = 'view' THEN CASE WHEN k >= 90 THEN 'FAILED' ELSE 'RECEIVED' END
            WHEN event_type = 'click' THEN CASE WHEN k >= 90 THEN 'FAILED'
                                                WHEN k >= 80 THEN 'REJECTED' ELSE 'IN_PROGRESS' END
            WHEN event_type = 'purchase' THEN CASE WHEN k >= 90 THEN 'FAILED' ELSE 'ACCEPTED' END
            WHEN event_type = 'error' AND k >= 90 THEN 'FAILED' END AS signal
          FROM ev)
        SELECT user_id AS txn_key, 't' || (user_id % 10) AS tenant,
          COALESCE(arg_max(signal, {ORD}) FILTER (WHERE signal IS NOT NULL), 'IN_PROGRESS') AS state,
          COALESCE(MIN(ts_ms) FILTER (WHERE event_type = 'signup'), -1) AS started_ms,
          COALESCE(MAX(ts_ms) FILTER (WHERE event_type = 'purchase'), -1) AS completed_ms,
          COALESCE({MONEY.format("SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'purchase')")}, '') AS amount,
          COALESCE(arg_max(CASE k % 3 WHEN 0 THEN 'NONE' WHEN 1 THEN 'OTP' ELSE 'BIO' END, {ORD})
                   FILTER (WHERE event_type = 'signup'), 'NONE') AS auth_type,
          COALESCE(arg_max('dfsp-' || (k % 10), {ORD}) FILTER (WHERE event_type = 'view'), '') AS payer_dfsp_id,
          COALESCE(arg_max('fsp-' || (k % 10), {ORD})
                   FILTER (WHERE event_type = 'click' AND user_id % 2 <> 0), '') AS payee_dfsp_id,
          COALESCE(arg_max(CASE k % 3 WHEN 0 THEN 'CONSUMER' WHEN 1 THEN 'AGENT' ELSE 'BUSINESS' END, {ORD})
                   FILTER (WHERE event_type = 'error' AND k < 90), '') AS initiator_type,
          COALESCE(arg_max(CASE k % 4 WHEN 0 THEN 'DEPOSIT' WHEN 1 THEN 'WITHDRAWAL'
                                       WHEN 2 THEN 'TRANSFER' ELSE 'PAYMENT' END, {ORD})
                   FILTER (WHERE event_type = 'error' AND k < 90), '') AS scenario,
          COUNT(*) AS n_events
        FROM s GROUP BY user_id"""),
    "batches": ("batch_key", f"""
        SELECT user_id AS batch_key, 'b' || (user_id % 20) AS batch_id,
          'req-' || user_id AS request_id,
          COALESCE(arg_max('f-' || k || '.csv', {ORD}) FILTER (WHERE event_type = 'signup'), '') AS request_file,
          COALESCE(arg_max('note-' || (k % 5), {ORD}) FILTER (WHERE event_type = 'view'), '') AS note,
          COALESCE(MIN(ts_ms) FILTER (WHERE event_type = 'signup'), -1) AS started_ms,
          COALESCE(MAX(ts_ms) FILTER (WHERE event_type = 'purchase'), -1) AS completed_ms,
          COUNT(*) FILTER (WHERE event_type IN ('click', 'view', 'purchase')) AS total_transactions,
          COUNT(*) FILTER (WHERE event_type IN ('click', 'view'))
            AS ongoing,
          COUNT(*) FILTER (WHERE event_type = 'error' AND k >= 90) AS failed,
          COUNT(*) FILTER (WHERE event_type = 'purchase') AS completed
        FROM ev GROUP BY user_id"""),
    "variables": ("record_key", f"""
        SELECT event_id AS record_key, user_id AS instance_key, ts_ms,
          event_type AS name, {MONEY.format("value")} AS value
        FROM ev WHERE event_type IN ('click', 'view', 'purchase')"""),
    "tasks": ("record_key", """
        SELECT event_id AS record_key, user_id AS instance_key, ts_ms,
          CASE WHEN k < 50 THEN 'CREATED' ELSE 'COMPLETED' END AS intent,
          'JOB' AS record_type, event_type AS element_id
        FROM ev"""),
}
# per-record tables: a row stands for one record, not an instance
PER_RECORD = {"variables", "tasks"}


class Checker:
    """Expected tables for one generated input set."""

    def __init__(self, inputs_dir, meta):
        self.meta = meta
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        events = os.path.join(inputs_dir, "events.parquet")
        self.con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events}')")
        self.con.execute("""CREATE TABLE ev AS SELECT event_id, epoch_ms(ts) AS ts_ms, user_id,
            event_type, value, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events""")
        self.con.execute("CREATE TABLE weights AS SELECT user_id, COUNT(*) AS n FROM ev GROUP BY user_id")
        self._expected = {}

    def expected(self, entity, wide_sql=None):
        if entity not in self._expected:
            if entity == "wide":
                key, sql = "transfer_key", wide_sql
            else:
                key, sql = EXPECTED[entity]
            self.con.execute(f"CREATE OR REPLACE TABLE exp_{entity} AS {sql}")
            self._expected[entity] = key
        return f"exp_{entity}", self._expected[entity]

    def _strings(self, relation):
        """The relation with every column as a string, columns by name."""
        cols = sorted(d[0] for d in self.con.execute(f"SELECT * FROM {relation} LIMIT 0").description)
        return ", ".join(f"CAST({c} AS VARCHAR) AS {c}" for c in cols), cols

    def compare(self, entity, got, key):
        """(records attempted, records failed) of one output table."""
        exp = f"exp_{entity}"
        exp_cols, ec = self._strings(exp)
        got_cols, gc = self._strings(got)
        if ec != gc:
            raise RuntimeError(f"{entity}: output columns {gc} differ from expected {ec}")
        # keys whose row is missing, wrong, extra or duplicated
        self.con.execute(f"""CREATE OR REPLACE TEMP TABLE bad AS
            SELECT DISTINCT {key} AS k FROM (
              (SELECT {exp_cols} FROM {exp} EXCEPT ALL SELECT {got_cols} FROM {got})
              UNION ALL
              (SELECT {got_cols} FROM {got} EXCEPT ALL SELECT {exp_cols} FROM {exp}))""")
        if entity in PER_RECORD:
            attempted = self.con.execute(f"SELECT COUNT(*) FROM {exp}").fetchone()[0]
            failed = self.con.execute("SELECT COUNT(*) FROM bad").fetchone()[0]
        else:
            attempted = self.meta["records"]
            failed = self.con.execute("""SELECT COALESCE(SUM(COALESCE(w.n, 1)), 0)
                FROM bad LEFT JOIN weights w ON CAST(w.user_id AS VARCHAR) = bad.k""").fetchone()[0]
        return attempted, min(int(failed), attempted)

    def properties(self, relation):
        """Violated properties of a transfers table (list of strings)."""
        n_rows, n_events, cents = self.con.execute(f"""
            SELECT COUNT(*), SUM(n_events),
              SUM(CASE WHEN amount = '' THEN 0 ELSE CAST(amount AS DECIMAL(38,2)) * 100 END)
            FROM {relation}""").fetchone()
        bad = []
        if n_events != self.meta["records"]:
            bad.append(f"sum(n_events)={n_events} != records published {self.meta['records']}")
        if int(cents or 0) != self.meta["purchase_cents"]:
            bad.append(f"sum(amount)={cents} cents != generated {self.meta['purchase_cents']}")
        if n_rows != self.meta["instances"]:
            bad.append(f"rows={n_rows} != instances {self.meta['instances']}")
        return bad

    def load_tsv(self, name, path, cols=TRANSFER_COLS, types=TRANSFER_TYPES):
        spec = ", ".join(f"'{c}': '{t}'" for c, t in zip(cols, types))
        self.con.execute(f"""CREATE OR REPLACE TABLE {name} AS SELECT * FROM read_csv('{path}',
            delim='\t', header=false, quote='', escape='', nullstr='\\N',
            columns={{{spec}}})""")
        return name

    def load_parquet(self, name, path):
        self.con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM "
                         f"read_parquet('{os.path.join(path, '*.parquet')}')")
        return name

    def reads(self, queries, path):
        """(attempted, failed) of the operations-UI reads in `path`."""
        exp_table, _ = self.expected("transfers")
        self.con.execute("CREATE OR REPLACE TABLE got_reads (qi INTEGER, %s)" % ", ".join(
            f"{c} {t}" for c, t in zip(TRANSFER_COLS, TRANSFER_TYPES)))
        if os.path.getsize(path) > 0:
            spec = ", ".join(f"'{c}': '{t}'" for c, t in
                             zip(["qi"] + TRANSFER_COLS, ["INTEGER"] + TRANSFER_TYPES))
            self.con.execute(f"""INSERT INTO got_reads SELECT * FROM read_csv('{path}',
                delim='\t', header=false, quote='', escape='', nullstr='\\N',
                columns={{{spec}}})""")
        failed = 0
        cols = ", ".join(TRANSFER_COLS)
        for qi, q in enumerate(queries):
            exp = sorted(self.con.execute(
                f"SELECT {cols} FROM {exp_table} WHERE {spec_sql(q)}").fetchall())
            got = sorted(self.con.execute(
                f"SELECT {cols} FROM got_reads WHERE qi = {qi}").fetchall())
            failed += exp != got
        return len(queries), failed


def spec_sql(line):
    """The SQL predicate of one read line (see perfbench.Reads)."""
    numeric = {"transfer_key", "started_ms", "completed_ms", "n_events"}

    def v(attr, s):
        return s if attr in numeric else "'" + s.replace("'", "''") + "'"
    parts = []
    for spec in line.split(";"):
        f = spec.split(",")
        op, attr = f[0], f[1]
        if op == "between":
            parts.append(f"{attr} >= {v(attr, f[2])} AND {attr} <= {v(attr, f[3])}")
        elif op == "later":
            parts.append(f"{attr} >= {v(attr, f[2])}")
        elif op == "earlier":
            parts.append(f"{attr} <= {v(attr, f[2])}")
        elif op == "match":
            parts.append(f"{attr} = {v(attr, f[2])}")
        else:
            raise ValueError(f"unknown spec {op}")
    return " AND ".join(parts)


def read_queries(meta):
    """The fixed operations-UI read sequence over the run's event span:
    five windows, four queries each, every Specs builder used."""
    e0 = 1704067200000
    span = max(1, meta["event_span_ms"])
    out = []
    for j in range(5):
        lo, hi = e0 + j * span // 5, e0 + (j + 1) * span // 5
        out += [
            f"between,started_ms,{lo},{hi}",
            f"later,completed_ms,{lo};earlier,completed_ms,{hi};match,status,COMPLETED",
            f"match,tenant,t{j};between,started_ms,{lo},{hi}",
            f"match,status,FAILED;later,started_ms,{lo}",
        ]
    return out


def check_run(workload, inputs_dir, out_dir, meta, queries):
    """Check one run's outputs. Returns (attempted, failed, violations)."""
    c = Checker(inputs_dir, meta)
    attempted = failed = 0
    violations = []
    if workload in ("import_drain", "import_paced"):
        c.expected("transfers")
        prefix = "drain_r" if workload == "import_drain" else "paced_r"
        rounds = sorted(glob.glob(os.path.join(out_dir, prefix + "*.tsv")))
        if not rounds:
            raise RuntimeError("no sink output to check")
        for i, path in enumerate(rounds):
            got = c.load_tsv(f"got_{i}", path)
            a, f = c.compare("transfers", got, "transfer_key")
            attempted, failed = attempted + a, failed + f
            if f == 0:
                violations += c.properties(got)
    else:
        with open(os.path.join(out_dir, "wide_oracle.sql")) as f:
            wide_sql = f.read()
        rounds = sorted(glob.glob(os.path.join(out_dir, "bf_r*")))
        if not rounds:
            raise RuntimeError("no entity output to check")
        for i, rdir in enumerate(rounds):
            for entity in ["transfers", "wide", "txnreq", "batches", "variables", "tasks"]:
                _, key = c.expected(entity, wide_sql)
                got = c.load_parquet(f"got_{entity}_{i}", os.path.join(rdir, entity))
                a, f = c.compare(entity, got, key)
                attempted, failed = attempted + a, failed + f
                if entity == "transfers" and f == 0:
                    violations += c.properties(got)
    a, f = c.reads(queries, os.path.join(out_dir, "reads.tsv"))
    return attempted + a, failed + f, violations

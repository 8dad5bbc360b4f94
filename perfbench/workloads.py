"""The workloads: what each runs, and what each output must be.

Both workloads share one lake, built in set-up by the program's own
`collect` from the generator's inboxes.

  cli_oneshot   cold `graft` processes, one per query, in a fixed mix of
                two shapes; the harness only builds the lake
  lake_session  one warm session replaying a fixed cycle: a dashboard
                refresh over all time, a write round on http_log
                (collect, compact, read-after-write probes), a refresh
                of the last 30 days, and a corpus round

Every step carries a `role`, which decides the end-to-end metric its
time feeds: `meta` (a query the metadata-aggregate rule may answer),
`scan` (a query that reads data files), `views`, `collect`, `compact`
and `command` (a corpus operator).
"""

import collections
import os
import random
import re

import gen

DAY = 86400
FROM_ALL = "2024-01-01"


class Workload:
    def __init__(self, name, truth):
        self.name = name
        self.truth = truth
        self.config = truth["config"]
        self.tables = []     # the tables set-up collects
        self.setup = []      # harness steps
        self.ops = []        # harness operations, replayed in order
        self.cycle = 1       # operations that make up one fixed mix
        self.cli = []        # cli_oneshot: the shapes of one cycle
        self.expect = {}     # op id -> [per-step expectation(state) or None]
        self.apply = {}      # op id -> http_log rows the operation adds
        self.round_of = {}   # write-round op id -> index into truth["rounds"]

    def input_bytes(self, rounds_done):
        """JSONL bytes collected into the lake after `rounds_done` write
        rounds."""
        rounds = self.truth["rounds"]
        return sum(self.truth["input_bytes"][t] for t in self.tables) + sum(
            rounds[j % len(rounds)]["input_bytes"] for j in range(rounds_done))


def main_step(name, role, layer, args, config):
    return {"kind": "main", "name": name, "role": role, "layer": layer,
            "args": list(args) + ["--lake-dir", "{lake}", "--config-dir", config]}


def csv_text(header, rows):
    return "\n".join([",".join(header)] + [",".join(str(c) for c in r) for r in rows])


def _output(expected, rec):
    got = rec.get("out", "").strip()
    return None if got == expected else "expected %r, got %r" % (expected[:300], got[:300])


def _contains(needles, rec):
    out = rec.get("out", "")
    missing = [n for n in needles if n not in out]
    return "missing %r in %r" % (missing[0], out[:300]) if missing else None


# ---- queries and their ground truth -----------------------------------

def _in(rows, lo, hi):
    return rows if lo is None else [r for r in rows if lo <= r["ts"] <= hi]


def q_total(rows):
    ts = [r["ts"] for r in rows]
    return csv_text(["n", "lo", "hi"], [(len(ts), gen.sql_ts(min(ts)), gen.sql_ts(max(ts)))])


def q_by_index(rows):
    by = collections.defaultdict(list)
    for r in rows:
        by[r["account"]].append(r["ts"])
    return csv_text(["tp_index", "n", "lo", "hi"],
                    [(a, len(v), gen.sql_ts(min(v)), gen.sql_ts(max(v)))
                     for a, v in sorted(by.items())])


def q_bytes(rows):
    bs = [r["bytes"] for r in rows]
    return csv_text(["n", "lo", "hi"], [(len(bs), min(bs), max(bs)) if bs else (0, "", "")])


def q_top_users(rows):
    agg = {}
    for r in rows:
        a = agg.setdefault(r["user"], [0, 0])
        a[0] += 1
        a[1] += r["bytes"]
    top = sorted(agg.items(), key=lambda kv: (-kv[1][0], kv[0]))[:10]
    return csv_text(["user", "n", "b"], [(u, n, b) for u, (n, b) in top])


def q_lookup(rows, req_id):
    return csv_text(["req_id", "user", "status", "bytes", "tp_timestamp"],
                    [(r["req_id"], r["user"], r["status"], r["bytes"], gen.sql_ts(r["ts"]))
                     for r in rows if r["req_id"] == req_id])


def q_join(auth, http):
    bad = {r["user"] for r in http if r["status"] == 500}
    c = collections.Counter(r["user"] for r in auth if r["result"] == "fail" and r["user"] in bad)
    return csv_text(["user", "fails"], sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:10])


def q_last_fail(auth):
    last = {}
    for r in auth:
        if r["result"] == "fail":
            key = (r["ts"], r["user"])
            if r["ip"] not in last or key > last[r["ip"]]:
                last[r["ip"]] = key
    top = sorted(last.items(), key=lambda kv: (-kv[1][0], kv[0]))[:20]
    return csv_text(["ip", "user", "tp_timestamp"], [(ip, u, gen.sql_ts(t)) for ip, (t, u) in top])


SQL = {
    "total": "SELECT count(*) AS n, min(tp_timestamp) AS lo, max(tp_timestamp) AS hi "
             "FROM http_log",
    "by_index": "SELECT tp_index, count(*) AS n, min(tp_timestamp) AS lo, "
                "max(tp_timestamp) AS hi FROM auth_log GROUP BY tp_index ORDER BY tp_index",
    "band": "SELECT count(*) AS n, min(bytes) AS lo, max(bytes) AS hi FROM http_log "
            "WHERE tp_timestamp >= TIMESTAMP '{a}' AND tp_timestamp < TIMESTAMP '{b}'",
    "docs": "SELECT count(*) AS n FROM docs",
    "top_users": "SELECT user, count(*) AS n, sum(bytes) AS b FROM http_log "
                 "GROUP BY user ORDER BY n DESC, user LIMIT 10",
    "lookup": "SELECT req_id, user, status, bytes, tp_timestamp FROM http_log "
              "WHERE req_id = {req_id}",
    "join": "SELECT a.user, count(*) AS fails FROM auth_log a "
            "JOIN (SELECT DISTINCT user FROM http_log WHERE status = 500) h ON a.user = h.user "
            "WHERE a.result = 'fail' GROUP BY a.user ORDER BY fails DESC, a.user LIMIT 10",
    "last_fail": "SELECT ip, user, tp_timestamp FROM (SELECT ip, user, tp_timestamp, "
                 "row_number() OVER (PARTITION BY ip ORDER BY tp_timestamp DESC, "
                 "user DESC) AS rn FROM auth_log WHERE result = 'fail') t "
                 "WHERE rn = 1 ORDER BY tp_timestamp DESC, ip LIMIT 20",
}


def _window(kind):
    """A dashboard window in inclusive epoch seconds; (None, None) = all."""
    if kind == "30d":
        return gen.T1 - 30 * DAY, gen.T1 - 1
    return None, None


# ---- set-up -----------------------------------------------------------

def _setup(w, tables):
    """One `graft collect` per table: the lake the operations run on."""
    t = w.truth
    w.tables = tables
    for table in tables:
        w.setup.append(main_step("collect_" + table, "collect", "ingest",
                                 ["collect", table + ".main", "--compact", "false",
                                  "--progress", "false", "--from", FROM_ALL], w.config))
    w.setup_expect = [
        lambda rec, table=table: _contains(
            ["Collected %s.main: %d rows" % (table, len(t["tables"][table]))], rec)
        for table in tables]


# ---- lake_session -----------------------------------------------------

CYCLES = 4


def _refresh(w, rng, i, kind):
    """Views.register for a window, then the dashboard panel: four
    metadata-eligible aggregates and four pruned scans."""
    t = w.truth["tables"]
    lo, hi = _window(kind)
    span_lo, span_hi = (lo, hi) if lo is not None else (gen.T0, gen.T1 - 1)
    a = span_lo + DAY // 2 + rng.randrange((span_hi - span_lo) // 4)
    b = span_hi - DAY // 4 - rng.randrange((span_hi - span_lo) // 4)
    req_id = rng.choice(_in(t["http_log"], lo, hi))["req_id"]
    auth, docs = _in(t["auth_log"], lo, hi), _in(t["docs"], lo, hi)
    panel = [
        ("total", "meta", ["http_log"], lambda http: q_total(http)),
        ("by_index", "meta", ["auth_log"], lambda http: q_by_index(auth)),
        ("band", "meta", ["http_log"],
         lambda http: q_bytes([r for r in http if a <= r["ts"] < b])),
        ("docs", "meta", ["docs"], lambda http: csv_text(["n"], [(len(docs),)])),
        ("top_users", "scan", ["http_log"], q_top_users),
        ("lookup", "scan", ["http_log"], lambda http: q_lookup(http, req_id)),
        ("join", "scan", ["auth_log", "http_log"], lambda http: q_join(auth, http)),
        ("last_fail", "scan", ["auth_log"], lambda http: q_last_fail(auth)),
    ]
    op_id = "refresh%d_%s" % (i, kind)
    steps = [{"kind": "views", "name": "views_register", "role": "views", "layer": "query",
              "from": gen.sql_ts(lo) if lo is not None else None,
              "to": gen.sql_ts(hi) if hi is not None else None}]
    expect = [lambda state: lambda rec: _contains(w.tables, rec)]
    for name, role, tables, fn in panel:
        sql = SQL[name].format(a=gen.sql_ts(a), b=gen.sql_ts(b), req_id=req_id)
        steps.append({"kind": "sql", "name": name, "role": role, "layer": "query",
                      "sql": sql, "tables": tables})
        expect.append(lambda state, fn=fn: (
            lambda rec, want=fn(_in(state["http_log"], lo, hi)): _output(want, rec)))
    w.ops.append({"id": op_id, "steps": steps})
    w.expect[op_id] = expect


def _write_round(w, rng, j):
    """A late chunk set into http_log, compaction, and read-after-write
    probes through the CLI's query path."""
    rnd = w.truth["rounds"][j % len(w.truth["rounds"])]
    user = gen.USERS[rng.randrange(5, 60)]
    op_id = "write%d" % j
    w.round_of[op_id] = j % len(w.truth["rounds"])
    w.ops.append({"id": op_id, "steps": [
        {"kind": "stage", "from": rnd["inbox"], "to": w.truth["http_inbox"]},
        main_step("collect", "collect", "ingest",
                  ["collect", "http_log.main", "--compact", "false", "--progress", "false",
                   "--from", FROM_ALL], w.config),
        main_step("compact", "compact", "lake", ["compact", "http_log"], w.config),
        main_step("probe_months", "meta", "query",
                  ["query", "SELECT tp_month, count(*) AS n FROM http_log GROUP BY tp_month "
                   "ORDER BY tp_month", "--output", "csv"], w.config),
        main_step("probe_user", "scan", "query",
                  ["query", "SELECT count(*) AS n, sum(bytes) AS b FROM http_log "
                   "WHERE user = '%s'" % user, "--output", "csv"], w.config),
    ]})

    def months(state):
        c = collections.Counter(gen.month_of(r["ts"]) for r in state["http_log"])
        return csv_text(["tp_month", "n"], sorted(c.items()))

    def probe_user(state):
        mine = [r["bytes"] for r in state["http_log"] if r["user"] == user]
        return csv_text(["n", "b"], [(len(mine), sum(mine) if mine else "")])

    w.expect[op_id] = [
        None,
        lambda state: lambda rec: _contains(["Collected http_log.main: %d rows (%d invalid)"
                                             % (len(rnd["rows"]), rnd["malformed"])], rec),
        lambda state: _compacted,
        lambda state: lambda rec, want=months(state): _output(want, rec),
        lambda state: lambda rec, want=probe_user(state): _output(want, rec),
    ]
    w.apply[op_id] = rnd["rows"]


def compact_counts(out):
    """(files before, files after) from `graft compact`'s report, or None."""
    m = re.search(r"Compacted \w+: (\d+) files -> (\d+) files", out)
    return (int(m.group(1)), int(m.group(2))) if m else None


def _compacted(rec):
    counts = compact_counts(rec.get("out", ""))
    if not counts:
        return "no compaction report in %r" % rec.get("out", "")[:300]
    a, b = counts
    return None if 1 <= b <= a else "compaction went from %d to %d files" % (a, b)


def _corpus_round(w, out_dir):
    t = w.truth
    docs = len(t["tables"]["docs"])
    exact_ids = sorted(i for g in t["exact_groups"] for i in g)
    copies = sum(len(g) - 1 for g in t["exact_groups"])
    cols = ["--id-column", "doc_id", "--text-column", "text"]
    op = {"id": "corpus", "steps": [
        main_step("count_docs", "meta", "query",
                  ["query", "SELECT count(*) AS n FROM docs", "--output", "csv"], w.config),
        main_step("dedup", "command", "operators", ["dedup", "docs", "--mode", "near"] + cols,
                  w.config),
        main_step("profile", "command", "operators",
                  ["profile", "docs", "--text-column", "text", "--rules", "--ppl"], w.config),
        main_step("curate", "command", "operators",
                  ["curate", "docs", out_dir, "--gates", "both", "--dedup", "near",
                   "--buckets", "head,middle"] + cols, w.config),
        main_step("check_curated", "scan", "query",
                  ["query", "SELECT doc_id FROM parquet.`%s` WHERE doc_id IN (%s) ORDER BY doc_id"
                   % (out_dir, ",".join(map(str, exact_ids))), "--output", "csv"], w.config),
    ]}

    def dedup(rec):
        m = re.search(r"Table docs: (\d+) rows, (\d+) near-dup clusters at jaccard >= [0-9.]+, "
                      r"(\d+) droppable rows", rec.get("out", ""))
        if not m:
            return "no dedup report in %r" % rec.get("out", "")[:300]
        n, clusters, drop = map(int, m.groups())
        if n != docs or clusters < len(t["exact_groups"]) or drop < copies:
            return "dedup saw %d rows, %d clusters, %d droppable; planted %d docs, %d exact " \
                   "groups, %d exact copies" % (n, clusters, drop, docs, len(t["exact_groups"]),
                                                copies)
        return None

    def survivors(rec):
        lines = rec.get("out", "").strip().split("\n")
        if lines[0] != "doc_id":
            return "unexpected output %r" % rec.get("out", "")[:300]
        kept = {int(x) for x in lines[1:] if x}
        for g in t["exact_groups"]:
            if len(kept.intersection(g)) > 1:
                return "exact duplicates %s survived curate" % sorted(kept.intersection(g))
        return None

    w.expect["corpus"] = [
        lambda state: lambda rec: _output(csv_text(["n"], [(docs,)]), rec),
        lambda state: dedup,
        lambda state: lambda rec: _contains(["Table docs: %d docs" % docs], rec),
        lambda state: lambda rec: _contains(["Curate docs: %d docs" % docs, "Wrote "], rec),
        lambda state: survivors,
    ]
    return op


def lake_session(seed, root):
    w = Workload("lake_session", gen.lake(seed, root))
    _setup(w, gen.TABLES)
    rng = random.Random("session-%d" % seed)
    corpus = _corpus_round(w, os.path.join(root, "curated"))
    for c in range(CYCLES):
        _refresh(w, rng, 2 * c, "all")
        _write_round(w, rng, c)
        _refresh(w, rng, 2 * c + 1, "30d")
        w.ops.append(corpus)
    w.cycle = 4
    return w


# ---- cli_oneshot ------------------------------------------------------

def cli_oneshot(seed, root):
    """Two cold-process shapes over the lake: a whole-table count/min/max
    the metadata rule can serve, and a 100-row CSV lookup in a
    `--from/--to` window, which registers time-filtered views."""
    w = Workload("cli_oneshot", gen.lake(seed, root))
    _setup(w, ["auth_log", "http_log"])
    http = w.truth["tables"]["http_log"]
    rng = random.Random("cli-%d" % seed)
    lo = gen.MONTH_STARTS[rng.randrange(1, 4)] + rng.randrange(DAY) + DAY // 2
    hi = gen.MONTH_STARTS[rng.randrange(7, 10)] + rng.randrange(DAY)
    user = gen.USERS[rng.randrange(3)]
    mine = sorted((r for r in _in(http, lo, hi) if r["user"] == user),
                  key=lambda r: r["req_id"])[:100]
    w.cli = [
        {"id": "meta_total", "role": "meta", "args": ["query", SQL["total"], "--output", "csv"],
         "check": lambda rec, want=q_total(http): _output(want, rec)},
        {"id": "lookup_csv", "role": "scan",
         "args": ["query", "SELECT req_id, user, status, bytes FROM http_log "
                  "WHERE user = '%s' ORDER BY req_id LIMIT 100" % user,
                  "--from", gen.sql_ts(lo), "--to", gen.sql_ts(hi), "--output", "csv"],
         "check": lambda rec, want=csv_text(["req_id", "user", "status", "bytes"],
                                            [(r["req_id"], r["user"], r["status"], r["bytes"])
                                             for r in mine]): _output(want, rec)},
    ]
    w.cycle = len(w.cli)
    return w


class Checker:
    """Replays the executed operations in order against the ground
    truth: a write round adds its rows to the expected http_log before
    the operations after it are checked."""

    def __init__(self, w):
        self.w = w
        self.state = {"http_log": list(w.truth["tables"]["http_log"])}

    def setup_step(self, i, rec):
        return self.w.setup_expect[i](rec)

    def op(self, op_id, recs):
        if op_id in self.w.apply:
            self.state["http_log"] = self.state["http_log"] + self.w.apply[op_id]
        return [e(self.state)(r) if e else None for e, r in zip(self.w.expect[op_id], recs)]

    def cli(self, shape_id, rec):
        return next(s for s in self.w.cli if s["id"] == shape_id)["check"](rec)


WORKLOADS = {"cli_oneshot": cli_oneshot, "lake_session": lake_session}

"""Seeded input generator for the benchmark.

Everything the program receives is written here from one seed: JSONL
inboxes, HCL config files, and the ground truth the checks compare
against. The same seed gives byte-identical files; sizes do not depend
on the seed, only values do, so runs with different seeds do the same
amount of work.

The lake has three tables, all collected by the program's own `collect`:

  auth_log, http_log   log tables over 12 months, Zipf-skewed users and
                       IPs, `tp_index` = account
  docs                 a document table with planted exact and near
                       duplicates and a share of junk

plus POOL round inboxes of late `http_log` rows for the write path.
"""

import calendar
import json
import os
import random
from datetime import datetime, timezone

YEAR = 2025
T0 = calendar.timegm((YEAR, 1, 1, 0, 0, 0))
T1 = calendar.timegm((YEAR + 1, 1, 1, 0, 0, 0))
MONTH_STARTS = [calendar.timegm((YEAR, m, 1, 0, 0, 0)) for m in range(1, 13)] + [T1]

ACCOUNTS = ["acct-a", "acct-b", "acct-c", "acct-d"]
ACCOUNT_WEIGHTS = [0.4, 0.3, 0.2, 0.1]
N_USERS = 2000
N_IPS = 3000

LOG_ROWS = {"auth_log": 8000, "http_log": 16000}
CHUNKS = 2

# write rounds: POOL chunk sets of late http_log rows, reused round-robin
POOL = 4
ROUND_CHUNKS = 3
ROUND_ROWS_PER_CHUNK = 700
MALFORMED_PER_CHUNK = 2

N_DOCS = 300
EXACT_GROUPS = 10        # each: one text written 2-3 times
NEAR_CLUSTERS = 10       # each: one text plus 1-2 lightly edited copies
JUNK_SHARE = 0.15


def iso(t):
    return datetime.fromtimestamp(t, timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def sql_ts(t):
    """The renderer's timestamp form (session and JVM in UTC)."""
    return datetime.fromtimestamp(t, timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


def month_of(t):
    return datetime.fromtimestamp(t, timezone.utc).month


def _cum(ws):
    out, acc = [], 0.0
    for w in ws:
        acc += w
        out.append(acc)
    return out


def _zipf_cum(n, s=1.1):
    return _cum([1.0 / (i + 1) ** s for i in range(n)])


USER_CUM = _zipf_cum(N_USERS)
IP_CUM = _zipf_cum(N_IPS)
ACCOUNT_CUM = _cum(ACCOUNT_WEIGHTS)
USERS = ["u%05d" % i for i in range(N_USERS)]
IPS = ["10.%d.%d.%d" % (i // 65536, (i // 256) % 256, i % 256) for i in range(N_IPS)]

SCHEMAS = {
    "auth_log": [("user", "varchar"), ("ip", "varchar"), ("action", "varchar"),
                 ("result", "varchar"), ("account", "varchar")],
    "http_log": [("req_id", "bigint"), ("user", "varchar"), ("ip", "varchar"),
                 ("method", "varchar"), ("path", "varchar"), ("status", "integer"),
                 ("bytes", "bigint"), ("latency_ms", "integer"), ("account", "varchar")],
    "docs": [("doc_id", "bigint"), ("source", "varchar"), ("text", "varchar"),
             ("account", "varchar")],
}
STATS = {"auth_log": ["user", "tp_index"],
         "http_log": ["req_id", "user", "bytes", "tp_index"],
         "docs": ["tp_index"]}
TABLES = list(SCHEMAS)


def _write_jsonl(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for line in lines:
            f.write(line)
            f.write("\n")
    return os.path.getsize(path)


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


def _dumps(row):
    return json.dumps(row, separators=(",", ":"))


def _as_json(row):
    out = dict(row)
    out["ts"] = iso(row["ts"])
    return _dumps(out)


def _hcl(table, inbox):
    cols = ['  column "tp_timestamp" { source = "ts" }']
    cols += ['  column "%s" { type = "%s" }' % c for c in SCHEMAS[table]]
    return "\n".join([
        'table "%s" {' % table, *cols,
        '  stats_columns = [%s]' % ", ".join('"%s"' % s for s in STATS[table]), "}", "",
        'partition "%s" "main" {' % table,
        '  tp_index = "account"',
        '  source "file" {',
        '    paths = ["%s/"]' % inbox,
        "  }", "}", ""])


# ---- rows -------------------------------------------------------------

def _http_row(rng, ts, req_id):
    return {"ts": ts, "req_id": req_id,
            "user": rng.choices(USERS, cum_weights=USER_CUM)[0],
            "ip": rng.choices(IPS, cum_weights=IP_CUM)[0],
            "method": rng.choice(("GET", "GET", "GET", "POST", "PUT", "DELETE")),
            "path": "/api/v1/%s/%d" % (rng.choice(("orders", "items", "carts", "users")),
                                       rng.randrange(500)),
            "status": rng.choices((200, 201, 304, 404, 500), (70, 5, 10, 10, 5))[0],
            "bytes": rng.randrange(200, 60000), "latency_ms": rng.randrange(1, 900),
            "account": rng.choices(ACCOUNTS, cum_weights=ACCOUNT_CUM)[0]}


def _log_rows(rng, table, n):
    ts = sorted(rng.randrange(T0, T1) for _ in range(n))
    rows = []
    for i, t in enumerate(ts):
        acct = rng.choices(ACCOUNTS, cum_weights=ACCOUNT_CUM)[0]
        if table == "http_log":
            rows.append(_http_row(rng, t, 1000000 + i))
        else:
            rows.append({"ts": t, "user": rng.choices(USERS, cum_weights=USER_CUM)[0],
                         "ip": rng.choices(IPS, cum_weights=IP_CUM)[0],
                         "action": rng.choice(("login", "logout", "mfa", "token")),
                         "result": "fail" if rng.random() < 0.12 else "ok", "account": acct})
    return rows


# ---- documents --------------------------------------------------------

WORDS = ("the of and to in is was for on that with as by at from it this be are "
         "which an or have has had were not but their they its one all been more "
         "river mountain village market harbor library garden bridge winter summer "
         "history science music language engineer council school museum railway "
         "festival forest island station coast valley province century "
         "building research student teacher farmer painter writer doctor "
         "opened built founded visited described recorded measured improved "
         "ancient modern quiet busy narrow wide northern southern local public "
         "early later small large famous common simple careful").split()


def _sentence(rng):
    ws = [rng.choice(WORDS) for _ in range(rng.randrange(8, 16))]
    ws[0] = ws[0].capitalize()
    return " ".join(ws) + "."


def _good_doc(rng):
    return " ".join(_sentence(rng) for _ in range(rng.randrange(6, 12)))


def _junk_doc(rng):
    return " ".join(rng.choice(("#", "$$", "{x}", "!!", "...", "@@", "lorem", "ipsum"))
                    for _ in range(rng.randrange(5, 25)))


def _edit(rng, text):
    """A near duplicate: a few words swapped, Jaccard well above 0.8."""
    ws = text.split(" ")
    for _ in range(max(1, len(ws) // 60)):
        ws[rng.randrange(len(ws))] = rng.choice(WORDS)
    return " ".join(ws)


def _docs(rng):
    texts, exact, near = [], [], []
    for groups, n, copy in ((exact, EXACT_GROUPS, lambda t: t),
                            (near, NEAR_CLUSTERS, lambda t: _edit(rng, t))):
        for _ in range(n):
            t = _good_doc(rng)
            k = rng.randrange(2, 4)
            groups.append(list(range(len(texts), len(texts) + k)))
            texts += [t] + [copy(t) for _ in range(k - 1)]
    while len(texts) < N_DOCS:
        texts.append(_junk_doc(rng) if rng.random() < JUNK_SHARE else _good_doc(rng))
    order = list(range(N_DOCS))
    rng.shuffle(order)
    doc_id = {old: new + 1 for new, old in enumerate(order)}
    rows = sorted(({"ts": rng.randrange(T0, T1), "doc_id": doc_id[i],
                    "source": rng.choice(("web", "books", "forum", "news")),
                    "text": text, "account": rng.choice(ACCOUNTS)}
                   for i, text in enumerate(texts)), key=lambda r: r["doc_id"])
    return rows, [[doc_id[i] for i in g] for g in exact], [[doc_id[i] for i in g] for g in near]


# ---- the lake's inputs ------------------------------------------------

def lake(seed, root):
    """Write every table's inbox, the config dir and the write-round
    pool under `root`. Returns the ground truth: per table its rows and
    inbox bytes, the config dir, the planted duplicate groups, and the
    rounds (inbox dir, valid rows, malformed count, bytes)."""
    rng = random.Random("lake-%d" % seed)
    cfg = os.path.join(root, "config")
    truth = {"config": cfg, "tables": {}, "input_bytes": {}}
    for t in TABLES:
        if t == "docs":
            rows, truth["exact_groups"], truth["near_clusters"] = _docs(rng)
        else:
            rows = _log_rows(rng, t, LOG_ROWS[t])
        inbox = os.path.join(root, "inbox", t)
        step = -(-len(rows) // CHUNKS)
        truth["input_bytes"][t] = sum(
            _write_jsonl(os.path.join(inbox, "chunk_%d.jsonl" % c),
                         (_as_json(r) for r in rows[c * step:(c + 1) * step]))
            for c in range(CHUNKS))
        truth["tables"][t] = rows
        _write(os.path.join(cfg, t + ".tpc"), _hcl(t, inbox))
    truth["http_inbox"] = os.path.join(root, "inbox", "http_log")
    truth["rounds"] = [_round(rng, os.path.join(root, "pool", "r%d" % i), i)
                       for i in range(POOL)]
    return truth


def _round(rng, inbox, i):
    """Late http_log rows: out of time order, spanning every month, with
    a few malformed rows (no `ts`, or a null one) per chunk that collect
    must report as invalid. Request ids continue past the base table's."""
    rows, bad, nbytes = [], 0, 0
    next_id = 2000000 + i * ROUND_CHUNKS * ROUND_ROWS_PER_CHUNK
    for c in range(ROUND_CHUNKS):
        chunk = [_http_row(rng, rng.randrange(T0, T1), next_id + j)
                 for j in range(ROUND_ROWS_PER_CHUNK)]
        next_id += ROUND_ROWS_PER_CHUNK
        rows += chunk
        lines = [_as_json(r) for r in chunk]
        for k in range(MALFORMED_PER_CHUNK):
            broken = _http_row(rng, None, 0)
            if k % 2 == 0:
                del broken["ts"]
            lines.insert(rng.randrange(1, len(lines)), _dumps(broken))
            bad += 1
        nbytes += _write_jsonl(os.path.join(inbox, "chunk_%d.jsonl" % c), lines)
    return {"inbox": inbox, "rows": rows, "malformed": bad, "input_bytes": nbytes,
            "chunks": ROUND_CHUNKS}

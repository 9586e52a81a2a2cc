"""Seeded input generators of the router benchmark.

Every value is a function of (seed, row id) through a splitmix64 hash, so the
same seed gives the same rows, and no change to the program can change the
inputs. Each generator writes parquet files under `<dir>/data` plus the answer
files the benchmark checks the program's output against:

- `rules.conf`: the Fluentd rule table the job loads;
- `expected.tsv`: `label<TAB>tag<TAB>rows` per sink the job must report;
- `kept_sources.txt`: (sequence inputs) the source tags whose rows are routed.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

U64 = np.uint64
MASK = (1 << 64) - 1

# name -> input rows; every rep of the workload's job processes all of them
ROWS = {
    "flagship_route": 1_500_000,
    "logs_wide_rules": 100_000,
    "fanout_resume": 100_000,
    "curate_dedup": 8_000,
}
# parquet files per input; fanout_resume's 4 checkpoint ranges take 2 each
FILES = {"fanout_resume": 8}
DEFAULT_FILES = 16


def mix(x):
    """splitmix64 finalizer over a uint64 array."""
    with np.errstate(over="ignore"):
        x = x + U64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> U64(30))) * U64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> U64(27))) * U64(0x94D049BB133111EB)
        return x ^ (x >> U64(31))


def h(seed, salt, ids):
    """Hash of row ids under (seed, salt)."""
    key = mix(np.array([(seed * 1_000_003 + salt) & MASK], dtype=U64))[0]
    return mix(ids.astype(U64) ^ key)


# ---- sequence rows: flagship_route and fanout_resume -------------------------

# source tags, Zipf-like: the hot tag takes 40% of rows
TAG_WEIGHTS = [
    ("td.apache.access", 40), ("td.nginx.access", 15), ("input.tomcat.access", 12),
    ("game.production.api", 9), ("input", 7), ("kubernetes.var.log", 6),
    ("td.apache.error", 4), ("game.staging.api", 3), ("metrics.node.cpu", 3),
    ("app.web.request", 1),
]

# the seven-rule flagship table (backrefs with capitalize, tag parts, labels,
# a relabel, a drop rule and an inverted catch-all)
FLAGSHIP_CONF = r"""capitalize_regex_backreference yes
hostname graft-host
<rule>
  key source
  pattern ^td\.apache\..+$
  tag site.apache.${tag_parts[2]}
</rule>
<rule>
  key source
  pattern ^td\.(nginx)\.(access)$
  tag site.$1-$2
</rule>
<rule>
  key source
  pattern ^kubernetes\.
  tag k8s.${tag}
  label @k8s
</rule>
<rule>
  key source
  pattern ^game\.(production|staging)\.api$
  tag app.$1.api
</rule>
<rule>
  key source
  pattern ^input$
  tag ${tag}
  label @relabel
</rule>
<rule>
  key source
  pattern ^metrics\.
  tag ${tag}
</rule>
<rule>
  key source
  pattern ^$
  tag unmatched.${tag_parts[0]}
  invert true
</rule>
"""

# source tag -> (label namespace, rewritten tag) under FLAGSHIP_CONF; None = dropped
FLAGSHIP_ROUTES = {
    "td.apache.access": ("@default", "site.apache.access"),
    "td.nginx.access": ("@default", "site.Nginx-Access"),
    "input.tomcat.access": ("@default", "unmatched.input"),
    "game.production.api": ("@default", "app.Production.api"),
    "input": ("relabel", "input"),
    "kubernetes.var.log": ("k8s", "k8s.kubernetes.var.log"),
    "td.apache.error": ("@default", "site.apache.error"),
    "game.staging.api": ("@default", "app.Staging.api"),
    "metrics.node.cpu": None,
    "app.web.request": ("@default", "unmatched.app"),
}


def sequences(n, seed):
    """(doc_id, tokens: 1..64 consecutive token ids, n_tok, source)."""
    ids = np.arange(n, dtype=U64)
    lengths = (h(seed, 0, ids) % U64(64)).astype(np.int64) + 1
    start = (h(seed, 1, ids) % U64(50_000)).astype(np.int64)
    pool = np.repeat(np.arange(len(TAG_WEIGHTS)), [w for _, w in TAG_WEIGHTS])
    source = pool[(h(seed, 2, ids) % U64(len(pool))).astype(np.int64)]
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    values = (np.arange(offsets[-1]) - np.repeat(offsets[:-1] - start, lengths)).astype(np.int32)
    tags = np.array([t for t, _ in TAG_WEIGHTS], dtype=object)
    table = pa.table({
        "doc_id": pa.array([f"doc-{i:012d}" for i in range(n)], pa.string()),
        "tokens": pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)),
                                           pa.array(values, pa.int32())),
        "n_tok": pa.array(lengths.astype(np.int32)),
        "source": pa.array(tags[source], pa.string()),
    })
    counts = np.bincount(source, minlength=len(TAG_WEIGHTS))
    sinks = {}
    for (tag, _), c in zip(TAG_WEIGHTS, counts):
        route = FLAGSHIP_ROUTES[tag]
        if route is not None and c > 0:
            sinks[route] = sinks.get(route, 0) + int(c)
    kept = [t for t, r in FLAGSHIP_ROUTES.items() if r is not None]
    return table, {"rules.conf": FLAGSHIP_CONF, "expected.tsv": sink_lines(sinks),
                   "kept_sources.txt": "".join(t + "\n" for t in kept)}


# ---- Apache combined log lines: logs_wide_rules ------------------------------

LOG_RULES = 64
LOG_SOURCE = "apache.access"
RESOURCES = ["users", "orders", "items"]


def log_label(i):
    """Label of routing rule i; every eighth rule routes to the `ops` namespace."""
    return "ops" if i % 8 == 7 else None


def log_rules_conf():
    """64 unanchored request-path rules, then an inverted catch-all."""
    parts = ["hostname graft-host"]
    for i in range(LOG_RULES):
        label = log_label(i)
        parts.append("<rule>\n  key request\n"
                     f"  pattern /api/v{i}/(users|orders|items)/\n  tag svc{i}.$1\n"
                     + (f"  label @{label}\n" if label else "") + "</rule>")
    parts.append("<rule>\n  key request\n  pattern ^/api/v\\d+/\n"
                 "  tag unmatched.${tag}\n  invert true\n</rule>")
    return "\n".join(parts) + "\n"


def logs(n, seed):
    """(line, source). Each line is built to hit one rule index, uniform over
    0..64 (64 = the catch-all); 1 line in 128 is garbled so grok cannot parse
    it and only the catch-all routes it. Request paths are unique per line."""
    ids = np.arange(n, dtype=U64)
    hh = h(seed, 0, ids)
    idx = (h(seed, 1, ids) % U64(LOG_RULES + 1)).astype(np.int64)
    res = (h(seed, 2, ids) % U64(3)).astype(np.int64)
    verb = (h(seed, 3, ids) % U64(4)).astype(np.int64)
    status = (h(seed, 4, ids) % U64(5)).astype(np.int64)
    agent = (h(seed, 5, ids) % U64(4)).astype(np.int64)
    bad = (hh % U64(128)) == 0
    octets = [((hh >> U64(s)) % U64(256)).astype(np.int64) for s in (8, 16, 24)]
    clock = [((hh >> U64(s)) % U64(m)).astype(np.int64) for s, m in ((32, 24), (40, 60), (48, 60))]
    nbytes = (hh % U64(50_000)).astype(np.int64)
    ref = ((hh >> U64(20)) % U64(1000)).astype(np.int64)
    verbs = ["GET", "POST", "PUT", "DELETE"]
    statuses = ["200", "201", "304", "404", "500"]
    agents = ["Mozilla/5.0 (X11; Linux x86_64)", "curl/8.5.0",
              "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_4)", "Go-http-client/2.0"]
    lines = []
    for i in range(n):
        if bad[i]:
            lines.append(f"garbled record {i} without fields")
            continue
        path = (f"/api/v{idx[i]}/{RESOURCES[res[i]]}/{i}" if idx[i] < LOG_RULES
                else f"/static/{RESOURCES[res[i]]}/{i}.css")
        lines.append(
            f"10.{octets[0][i]}.{octets[1][i]}.{octets[2][i]} - - "
            f"[{i % 28 + 1:02d}/Oct/2026:{clock[0][i]:02d}:{clock[1][i]:02d}:{clock[2][i]:02d} +0000] "
            f"\"{verbs[verb[i]]} {path} HTTP/1.1\" {statuses[status[i]]} {nbytes[i]} "
            f"\"https://example.com/p/{ref[i]}\" \"{agents[agent[i]]}\"")
    table = pa.table({"line": pa.array(lines, pa.string()),
                      "source": pa.array([LOG_SOURCE] * n, pa.string())})
    sinks = {}
    catch_all = ("@default", f"unmatched.{LOG_SOURCE}")
    for i, r, b in zip(idx.tolist(), res.tolist(), bad.tolist()):
        key = catch_all if b or i == LOG_RULES else (
            log_label(i) or "@default", f"svc{i}.{RESOURCES[r]}")
        sinks[key] = sinks.get(key, 0) + 1
    return table, {"rules.conf": log_rules_conf(), "expected.tsv": sink_lines(sinks)}


# ---- curation documents: curate_dedup ----------------------------------------

MARKERS = {
    "en": ["the", "and", "of", "is", "was", "with", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit"],
    "fr": ["le", "la", "les", "et", "est", "pas", "avec"],
    "es": ["el", "los", "las", "es", "y", "no", "con"],
}


def documents(n, seed):
    """(doc_id, text). Rows 8g..8g+3 copy group g's text (slots 0-2 exactly,
    slot 3 with one word replaced); slots 4-6 are unique; slot 7 is
    punctuation junk the quality gate rejects. Text is 40-60 words, one word
    in four a stopword-like marker of one of four languages."""
    langs = list(MARKERS)
    texts = []
    for i in range(n):
        slot = i % 8
        if slot == 7:
            texts.append(f"#$%! ?!*& @@## $$ !{i}")
            continue
        base = i - slot if slot <= 3 else i
        b = np.array([base], dtype=U64)
        lang = langs[int(h(seed, 7, b)[0] % U64(4))]
        length = 40 + int(h(seed, 3, b)[0] % U64(21))
        wh = h(seed, 100, b * U64(64) + np.arange(length, dtype=U64))
        words = [MARKERS[lang][int((w >> U64(8)) % U64(7))] if w % U64(4) == 0
                 else f"{lang}w{int((w >> U64(16)) % U64(5000))}" for w in wh]
        if slot == 3:
            words[int(h(seed, 4, np.array([i], dtype=U64))[0] % U64(length))] = f"zz{i}"
        texts.append(" ".join(words))
    table = pa.table({"doc_id": pa.array(np.arange(n, dtype=np.int64)),
                      "text": pa.array(texts, pa.string())})
    return table, {}


GENERATORS = {
    "flagship_route": sequences,
    "fanout_resume": sequences,
    "logs_wide_rules": logs,
    "curate_dedup": documents,
}


def sink_lines(sinks):
    return "".join(f"{l}\t{t}\t{c}\n" for (l, t), c in sorted(sinks.items()))


def input_dir(root, workload, seed):
    """Cache key: workload, seed and size."""
    return os.path.join(root, f"{workload}-s{seed}-n{ROWS[workload]}")


def generate(root, workload, seed):
    """Write the input of (workload, seed) unless cached; return its directory.
    A directory is complete once its `generated` marker exists."""
    d = input_dir(root, workload, seed)
    if os.path.exists(os.path.join(d, "generated")):
        return d
    if os.path.exists(d):
        for dirpath, _, names in os.walk(d, topdown=False):
            for name in names:
                os.remove(os.path.join(dirpath, name))
            os.rmdir(dirpath)
    table, answers = GENERATORS[workload](ROWS[workload], seed)
    os.makedirs(os.path.join(d, "data"))
    files = FILES.get(workload, DEFAULT_FILES)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for f in range(files):
        pq.write_table(table.slice(bounds[f], bounds[f + 1] - bounds[f]),
                       os.path.join(d, "data", f"part-{f:05d}.parquet"))
    for name, text in answers.items():
        with open(os.path.join(d, name), "w") as fh:
            fh.write(text)
    open(os.path.join(d, "generated"), "w").close()
    return d


def evict(root, workload, keep, current):
    """Delete all but the `keep` most recently used inputs of a workload."""
    if not os.path.isdir(root):
        return
    mine = [os.path.join(root, e) for e in os.listdir(root)
            if e.startswith(workload + "-s") and os.path.join(root, e) != current]
    mine.sort(key=lambda p: -os.path.getmtime(p))
    for d in mine[keep:]:
        for dirpath, _, names in os.walk(d, topdown=False):
            for name in names:
                os.remove(os.path.join(dirpath, name))
            os.rmdir(dirpath)

"""Seeded input generator for the three benchmark workloads.

Every input is a pure function of (workload, seed): the same seed writes
byte-identical parquet files, and the manifest records their content
hash.  The benchmark runs the program only on these generated inputs.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import hashlib
import json
import math
import os
import random
import shutil
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

# Traffic dimensions of each workload.  Recorded in the manifest and in
# perfbench/workloads.json; change them only together with the bounds.
# They are coverage choices, not measured traffic: nothing in the
# repository fixes a fleet's restart or digest-churn rate.  The QAN rates
# are fixed counts per tick, so that every tick after the first has a
# counter reset and new digests, and a run of two or three ticks runs
# the collector's reset and first-seen paths; the run reports the share
# of its ticks that had each.
QAN = dict(
    instances=24,            # database instances in the fleet
    digests_per_instance=80,  # statement digests an instance can run
    zipf_s=1.1,               # digest activity skew
    first_seen_share=0.5,     # digests visible at tick 0
    new_digests_per_tick=8,   # unseen digests that appear, each tick after the first
    restarts_per_tick=1,      # instances that restart (counter reset), each tick after the first
    calls_per_tick=120,       # statements an instance runs per tick
    ticks=24,                 # collector ticks generated
    events=20000,             # rows of the dashboard statement log
    event_users=150,          # instances in the dashboard log
    log_digests=2000,         # synthetic digests in the dashboard log
    named_share=0.6,          # share of log rows on the five named types
    row_group=2500,           # parquet row-group size of the log
)
DEDUP = dict(
    c300=120, c3k=24, c9k=6,    # documents per length class
    exact_dup_share=0.05,       # documents that copy another verbatim
    clusters=24,                # planted near-duplicate clusters
    variants=(2, 4),            # variants per cluster (inclusive range)
    edit_rates=(0.01, 0.03, 0.05, 0.08, 0.12, 0.2),  # word-edit shares
    multibyte_share=0.3,        # share of vocabulary that is not ASCII
)
INDEX = dict(
    docs=1200, dim=64, clusters=16,  # base documents, one vector each
    rounds=24,             # delta/delete batches generated
    append_batch=60,       # documents and vectors per append
    delete_batch=30,       # ids tombstoned per delete
    query_batch=16,        # queries per serve batch
)

NAMED = ["view", "click", "purchase", "signup", "error"]


def _write(table, path, row_group=None):
    pq.write_table(table, path, compression="snappy",
                   row_group_size=row_group or max(1, table.num_rows),
                   use_dictionary=True, write_statistics=True)


def _zipf_weights(n, s):
    return [1.0 / (r ** s) for r in range(1, n + 1)]


TS = pa.timestamp("us")  # un-zoned micros, as the testdata generator writes


# ------------------------------------------------------------ qan_monitor

def gen_qan(seed, out):
    p = QAN
    rng = random.Random(f"qan-{seed}")
    os.makedirs(f"{out}/snapshots", exist_ok=True)
    weights = _zipf_weights(p["digests_per_instance"], p["zipf_s"])
    # per (instance, digest): cost factor, current counter, seen flag
    inst = []
    for i in range(p["instances"]):
        order = list(range(p["digests_per_instance"]))
        rng.shuffle(order)  # which digest gets which activity rank
        digs = []
        for rank, d in enumerate(order):
            digs.append(dict(name=f"i{i:02d}_d{d:03d}", w=weights[rank],
                             cost=rng.randint(20, 4000),
                             seen=rng.random() < p["first_seen_share"],
                             counter=0, last=None))
        inst.append(digs)
    t0 = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z, micros
    truth = dict(tick=[], user_id=[], event_type=[], delta=[], kind=[])
    eid = 0
    for t in range(p["ticks"]):
        rows = dict(event_id=[], user_id=[], event_type=[], ts=[], counter=[])
        ts = t0 + t * 10_000_000
        if t > 0:
            unseen = [dg for digs in inst for dg in digs if not dg["seen"]]
            for dg in rng.sample(unseen, min(p["new_digests_per_tick"], len(unseen))):
                dg["seen"] = True
            for i in rng.sample(range(len(inst)), p["restarts_per_tick"]):
                for dg in inst[i]:
                    dg["counter"] = 0
        for i, digs in enumerate(inst):
            seen = [dg for dg in digs if dg["seen"]]
            if not seen:
                continue
            for dg in rng.choices(seen, weights=[d["w"] for d in seen],
                                  k=p["calls_per_tick"]):
                dg["counter"] += dg["cost"] * rng.randint(1, 9)
            for dg in seen:
                c = dg["counter"]
                # the collector rule: first sight emits the counter;
                # a regression (restart) emits the counter; else the gap
                prev = dg["last"]
                kind = "first" if prev is None else "reset" if c < prev else "gap"
                delta = c if kind != "gap" else c - prev
                dg["last"] = c
                rows["event_id"].append(eid)
                rows["user_id"].append(i)
                rows["event_type"].append(dg["name"])
                rows["ts"].append(ts)
                rows["counter"].append(c)
                eid += 1
                if delta or kind != "gap":  # a reset to 0 is kept as a row
                    truth["tick"].append(t)
                    truth["user_id"].append(i)
                    truth["event_type"].append(dg["name"])
                    truth["delta"].append(delta)
                    truth["kind"].append(kind)
        _write(pa.table({
            "event_id": pa.array(rows["event_id"], pa.int64()),
            "user_id": pa.array(rows["user_id"], pa.int64()),
            "event_type": pa.array(rows["event_type"], pa.string()),
            "ts": pa.array(rows["ts"], TS),
            "counter": pa.array(rows["counter"], pa.int64()),
        }), f"{out}/snapshots/tick-{t:05d}.parquet")
    _write(pa.table({
        "tick": pa.array(truth["tick"], pa.int32()),
        "user_id": pa.array(truth["user_id"], pa.int64()),
        "event_type": pa.array(truth["event_type"], pa.string()),
        "delta": pa.array(truth["delta"], pa.int64()),
        "kind": pa.array(truth["kind"], pa.string()),
    }), f"{out}/truth.parquet")
    gen_events(rng, out)


def gen_events(rng, out):
    p = QAN
    digests = [f"q{d:04d}" for d in range(p["log_digests"])]
    dw = _zipf_weights(len(digests), 1.0)
    uw = _zipf_weights(p["event_users"], 0.7)
    users = list(range(p["event_users"]))
    rng.shuffle(users)
    span = 30 * 86400 * 1_000_000
    t0 = 1704067200 * 1_000_000
    n = p["events"]
    ts = sorted(t0 + rng.randrange(span) for _ in range(n))
    etype, uid, val, props = [], [], [], []
    for _ in range(n):
        if rng.random() < p["named_share"]:
            etype.append(rng.choice(NAMED))
        else:
            etype.append(rng.choices(digests, weights=dw)[0])
        uid.append(rng.choices(users, weights=uw)[0])
        # two decimals, like the statement log the queries were built on
        val.append(round(max(0.01, rng.expovariate(1 / 40.0)), 2))
        props.append('{"k": %d}' % rng.randrange(100))
    os.makedirs(f"{out}/events", exist_ok=True)
    _write(pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, TS),
        "user_id": pa.array(uid, pa.int64()),
        "event_type": pa.array(etype, pa.string()),
        "value": pa.array(val, pa.float64()),
        "props": pa.array(props, pa.string()),
    }), f"{out}/events/events.parquet", row_group=p["row_group"])


# ----------------------------------------------------------- corpus_dedup

ASCII_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "de", "an", "or",
             "el", "ist", "per", "con", "tra", "ble", "ing", "ment", "ux"]
MB_SYL = ["é", "ü", "ñ", "ça", "ør", "ж", "зо", "ми", "ла", "中", "文", "字",
          "日", "本", "ß", "ā", "ő", "ší"]


def _vocab(rng, size, mb_share):
    words = set()
    while len(words) < size:
        syl = MB_SYL if rng.random() < mb_share else ASCII_SYL
        words.add("".join(rng.choice(syl) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _text(rng, vocab, target):
    out, n = [], 0
    while n < target:
        w = rng.choice(vocab)
        out.append(w)
        n += len(w) + 1
    return out


def shingles(text, n=3):
    """Character n-gram set, the same grams as the Spark pipeline
    (code-point substrings; a text shorter than n is its own gram)."""
    if len(text) < n:
        return {text}
    return {text[i:i + n] for i in range(len(text) - n + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


def gen_dedup(seed, out):
    p = DEDUP
    rng = random.Random(f"dedup-{seed}")
    vocab = _vocab(rng, 4000, p["multibyte_share"])
    docs = []  # (text, length class)
    for cls, target in (("c300", 300), ("c3k", 3000), ("c9k", 9000)):
        for _ in range(p[cls]):
            t = int(target * rng.uniform(0.85, 1.15))
            docs.append((" ".join(_text(rng, vocab, t)), cls))
    planted = []  # (index a, index b, true jaccard)
    for _ in range(p["clusters"]):
        base_i = rng.randrange(len(docs))
        base_words = docs[base_i][0].split(" ")
        members = [base_i]
        for _ in range(rng.randint(*p["variants"])):
            rate = rng.choice(p["edit_rates"])
            words = [rng.choice(vocab) if rng.random() < rate else w
                     for w in base_words]
            docs.append((" ".join(words), docs[base_i][1]))
            members.append(len(docs) - 1)
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = members[x], members[y]
                planted.append((a, b, jaccard(docs[a][0], docs[b][0])))
    for _ in range(int(len(docs) * p["exact_dup_share"])):
        docs.append(docs[rng.randrange(len(docs))])
    order = list(range(len(docs)))
    rng.shuffle(order)
    doc_id = {old: new for new, old in enumerate(order)}
    _write(pa.table({
        "doc_id": pa.array(range(len(docs)), pa.int64()),
        "text": pa.array([docs[o][0] for o in order], pa.string()),
        "len_class": pa.array([docs[o][1] for o in order], pa.string()),
    }), f"{out}/docs.parquet", row_group=200)
    pairs = sorted((min(doc_id[a], doc_id[b]), max(doc_id[a], doc_id[b]), j)
                   for a, b, j in planted)
    _write(pa.table({
        "a_id": pa.array([x[0] for x in pairs], pa.int64()),
        "b_id": pa.array([x[1] for x in pairs], pa.int64()),
        "jaccard": pa.array([x[2] for x in pairs], pa.float64()),
    }), f"{out}/planted.parquet")


# -------------------------------------------------------- index_lifecycle

WORDS = ("query scan join sort hash merge index table row column value "
         "batch stream window filter group order key part page cache lock "
         "latch wait read write flush commit log redo undo plan cost seek "
         "range point bloom shard replica leader vote term segment tomb "
         "stone compact spill shuffle stage task slot core heap gc jit").split()


def gen_index(seed, out):
    p = INDEX
    rng = random.Random(f"index-{seed}")
    vocab = WORDS + [f"{a}{b}" for a in WORDS for b in WORDS[:30]]
    vw = _zipf_weights(len(vocab), 1.05)
    rng.shuffle(vocab)
    centers = [[rng.gauss(0, 1) for _ in range(p["dim"])]
               for _ in range(p["clusters"])]

    def doc():
        return " ".join(rng.choices(vocab, weights=vw, k=rng.randint(20, 60)))

    def vec():
        c = rng.choice(centers)
        v = [x + rng.gauss(0, 0.6) for x in c]
        nrm = math.sqrt(sum(x * x for x in v))
        return [x / nrm for x in v]

    n_total = p["docs"] + p["rounds"] * p["append_batch"]
    ids = list(range(n_total))
    texts = [doc() for _ in ids]
    vecs = [vec() for _ in ids]
    base_n = p["docs"]
    # per round: the ids appended, then the ids tombstoned (drawn from
    # what is live after the append)
    live = list(range(base_n))
    rnd_of, deletes = [-1] * n_total, []
    for r in range(p["rounds"]):
        lo = base_n + r * p["append_batch"]
        for i in range(lo, lo + p["append_batch"]):
            rnd_of[i] = r
        live.extend(range(lo, lo + p["append_batch"]))
        picks = set(rng.sample(range(len(live)), p["delete_batch"]))
        deletes.append(sorted(live[i] for i in picks))
        live = [x for i, x in enumerate(live) if i not in picks]
    f32 = pa.list_(pa.float32())
    _write(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "embedding": pa.array(vecs, f32),
        "round": pa.array(rnd_of, pa.int32()),
    }), f"{out}/corpus.parquet", row_group=1000)
    _write(pa.table({
        "round": pa.array([r for r, ds in enumerate(deletes) for _ in ds],
                          pa.int32()),
        "doc_id": pa.array([d for ds in deletes for d in ds], pa.int64()),
    }), f"{out}/deletes.parquet")
    qb = p["query_batch"]
    _write(pa.table({
        "round": pa.array([r for r in range(p["rounds"]) for _ in range(qb)],
                          pa.int32()),
        # query ids live apart from document ids
        "doc_id": pa.array(range(10**9, 10**9 + p["rounds"] * qb), pa.int64()),
        "text": pa.array([" ".join(rng.choices(vocab, weights=vw, k=6))
                          for _ in range(p["rounds"] * qb)], pa.string()),
        "embedding": pa.array([vec() for _ in range(p["rounds"] * qb)], f32),
    }), f"{out}/queries.parquet")


def gen_corpus(seed, out):
    gen_index(seed, out)
    gen_dedup(seed, out)


GENERATORS = {"qan_monitor": (gen_qan, QAN),
              "corpus_lifecycle": (gen_corpus, dict(index=INDEX, dedup=DEDUP))}


def content_hash(out):
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(out)):
        dirs.sort()
        for f in sorted(files):
            if f == "manifest.json":
                continue
            path = os.path.join(root, f)
            h.update(os.path.relpath(path, out).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def version():
    """Hash of this generator's source: cached inputs are keyed by it."""
    with open(os.path.abspath(__file__), "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


def generate(workload, seed, out):
    """Write the workload's inputs for `seed` under `out` (cached: a
    complete manifest means the inputs are already there)."""
    manifest = f"{out}/manifest.json"
    if os.path.exists(manifest):
        with open(manifest) as fh:
            return json.load(fh)
    fn, dims = GENERATORS[workload]
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t = time.perf_counter()
    fn(seed, tmp)
    m = dict(workload=workload, seed=seed, gen_s=time.perf_counter() - t,
             sha256=content_hash(tmp), dims=dims)
    with open(f"{tmp}/manifest.json", "w") as fh:
        json.dump(m, fh, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return m


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))

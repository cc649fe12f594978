"""Output checks. Every failed check counts against `error_rate`.

* sql_interactive: each distinct query's first answer is compared with its
  ANSI twin run by DuckDB over the same parquet files; a repeat whose answer
  differs from the first also fails. The known-defect templates run after the
  timed loop and are reported by name.
* curation_batch: semDedup keeps a subset of the input ids and collapses
  each exact-replica vector group to one id; every chain of a run hashes the
  same, and the hash matches the one pinned for the seed in `pins.json`.
* ingest_mutate: every read matches the benchmark's model of the seeded
  ops at that point, the base table's row count and key sum match the model
  at the end, and the view equals a fresh GROUP BY over its base.
"""
import datetime
import hashlib
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

import gen
import templates

HERE = os.path.dirname(os.path.abspath(__file__))


# ---------------------------------------------------------------- sql

def _same(a, b):
    """Spark JSON value `a` against DuckDB value `b`."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(b, datetime.datetime):
        return isinstance(a, str) and a.replace("T", " ")[:19] == str(b)[:19]
    if isinstance(b, bool) or isinstance(a, bool):
        return a == b
    if isinstance(b, (int, float)) or hasattr(b, "as_tuple"):
        if not isinstance(a, (int, float)):
            return False
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=0.011)
    return str(a) == str(b)


def compare_answer(out, con, twin, ordered):
    """None when the JSONEachRow answer equals the twin's, else why not."""
    got = [json.loads(ln) for ln in out.splitlines() if ln.strip()]
    rel = con.execute(twin)
    cols = [d[0] for d in rel.description]
    want = rel.fetchall()
    if len(got) != len(want):
        return f"{len(got)} rows, want {len(want)}"
    got_rows = [tuple(r.get(c) for c in cols) for r in got]
    extra = {k for r in got for k in r} - set(cols)
    if extra:
        return f"unexpected columns {sorted(extra)}"
    if not ordered:  # align rows on their text columns
        def key(r):
            return tuple(v if isinstance(v, str) else "" for v in r)
        got_rows, want = sorted(got_rows, key=key), sorted(want, key=key)
    for g, w in zip(got_rows, want):
        if not all(_same(x, y) for x, y in zip(g, w)):
            return f"row {g} want {w}"
    return None


def _duck(base):
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(base, t + '.parquet')}')")
    return con


def check_sql(report, run_dir, base):
    with open(os.path.join(run_dir, "stream.json")) as f:
        stream = json.load(f)["rounds"]
    twins = {q["sql"]: q for rnd in stream for q in rnd}
    con = _duck(base)
    c = report["checks"]
    wrong = {}
    for a in c["answers"]:
        why = compare_answer(a["out"], con, twins[a["sql"]]["twin"],
                             twins[a["sql"]]["ordered"])
        if why:
            wrong[a["sql"]] = (a["template"], why)
    failed = set(c["changed_answer_ops"])
    pos = {}
    for i, o in enumerate(report["ops"]):
        j = pos.get(o["round"], 0)
        pos[o["round"]] = j + 1
        sql = stream[o["round"] % len(stream)][j]["sql"]
        if not o["ok"] or sql in wrong:
            failed.add(i)
    lines = [f"check answers: {len(c['answers'])} distinct queries against DuckDB, "
             f"{len(wrong)} wrong"]
    lines += [f"check wrong: {t}: {why}" for t, why in sorted(wrong.values())]
    lines += [f"check failed op: {o['kind']}: {o['err']}"
              for o in report["ops"] if not o["ok"]][:5]
    for d in c["known_defects"]:
        if not d["ok"]:
            status = f"FAILS ({d['err']})"
        else:
            twin = next(q["twin"] for q in templates.known_defect_queries()
                        if q["template"] == d["template"])
            why = compare_answer(d["out"], con, twin, True)
            status = f"WRONG ({why})" if why else "ok"
        lines.append(f"known_defect {d['template']}: {status}")
    return {"attempted": len(report["ops"]), "failed": len(failed), "lines": lines}


# ---------------------------------------------------------------- curation

CHAIN_KEYS = ["kept", "pairs", "semdedup_ids", "lm", "bm25_top", "contaminated"]


def chain_hash(chain):
    return hashlib.sha256(json.dumps([chain[k] for k in CHAIN_KEYS]).encode()).hexdigest()[:16]


def semdedup_problem(ids, input_ids, v_span):
    if not set(ids) <= input_ids:
        return "kept ids are not a subset of the input ids"
    groups = [i % v_span for i in ids]
    if len(set(groups)) != len(groups):
        return "an exact-replica vector group kept more than one id"
    if any(i >= v_span for i in ids):
        return "a group kept a replica instead of its smallest id"
    n_groups = len({i % v_span for i in input_ids})
    if len(ids) < n_groups // 2:  # near-duplicate drops are few; an empty answer is wrong
        return f"only {len(ids)} of {n_groups} groups kept"
    return None


def load_pins():
    with open(os.path.join(HERE, "pins.json")) as f:
        return json.load(f)


def check_curation(report, run_dir, seed):
    with open(os.path.join(run_dir, "corpus.json")) as f:
        meta = json.load(f)
    input_ids = set(pq.read_table(os.path.join(run_dir, "corpus", "rep0", "embeddings.parquet"),
                                  columns=["vec_id"])["vec_id"].to_pylist())
    pinned = load_pins().get("curation_batch", {}).get(str(seed))
    chains = report["checks"]["chains"]
    bad_rounds, lines, hashes = set(), [], set()
    for ch in chains:
        r = ch["round"]
        if not all(k in ch for k in CHAIN_KEYS):
            continue  # a failed op ended the chain early
        h = chain_hash(ch)
        hashes.add(h)
        why = semdedup_problem(ch["semdedup_ids"], input_ids, meta["v_span"])
        if why is None and pinned and h != pinned:
            why = f"result hash {h} differs from the pinned {pinned}"
        if why:
            bad_rounds.add(r)
            lines.append(f"check chain {r}: {why}")
    if len(hashes) > 1:
        lines.append(f"check chains disagree: hashes {sorted(hashes)}")
        bad_rounds.update(ch["round"] for ch in chains)
    lines.insert(0, f"check curation: {len(hashes)} distinct chain hash(es) "
                    f"{sorted(hashes)}, pinned {pinned or 'none for this seed'}")
    failed = sum(1 for o in report["ops"] if not o["ok"] or o["round"] in bad_rounds)
    failed += -1 in bad_rounds  # the untimed warm-up chains are checked too
    lines += [f"check failed op: {o['kind']}: {o['err']}"
              for o in report["ops"] if not o["ok"]][:5]
    # the warm-up chains count as one more attempt
    return {"attempted": len(report["ops"]) + 1, "failed": failed, "lines": lines}


# ---------------------------------------------------------------- ingest

def check_ingest(report):
    c = report["checks"]
    wrong = {w["op"] for w in c["wrong_reads"]}
    failed = sum(1 for i, o in enumerate(report["ops"]) if not o["ok"] or i in wrong)
    failed += -1 in wrong  # a read of the untimed warm-up cycle
    finals = c["final_checks"]
    failed += sum(1 for ok in finals.values() if not ok)
    lines = [f"check reads against the model: {len(c['wrong_reads'])} wrong"]
    lines += [f"check wrong read: {w}" for w in c["wrong_reads"][:3]]
    lines += [f"check {k}: {'ok' if v else 'FAILED'}" for k, v in sorted(finals.items())]
    lines.append(f"files_live {json.dumps(c['files_live'])}")
    lines += [f"check failed op: {o['kind']}: {o['err']}"
              for o in report["ops"] if not o["ok"]][:5]
    # the reads of the warm-up cycles count as one more attempt
    return {"attempted": len(report["ops"]) + len(finals) + 1, "failed": failed,
            "lines": lines}


def check(workload, report, run_dir, base, seed):
    if workload == "sql_interactive":
        return check_sql(report, run_dir, base)
    if workload == "curation_batch":
        return check_curation(report, run_dir, seed)
    return check_ingest(report)

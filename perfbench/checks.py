"""Output checks, computed apart from the engine.

Each check reads what the engine committed (parquet files named by a
txlog manifest, or a plain parquet directory) with DuckDB or plain Python
and recomputes the expected answer from the generated inputs; it returns
a list of failure messages, empty when the output is right. None of them
imports the engine.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
from collections import defaultdict

import duckdb

from gen import char_shingles, jaccard, s_curve

NEAR_THRESHOLD = 0.5
SIGMAS = 4.0  # slack of the recall bounds, in binomial standard deviations


def manifest(root: str, version: int) -> dict:
    """The committed txlog manifest of one version, read as plain JSON."""
    with open(os.path.join(root, "_txlog", f"v{version:012d}.json")) as f:
        return json.load(f)


def manifest_files(root: str, version: int) -> list[str]:
    """Absolute paths of the live files of one committed txlog version."""
    return [os.path.join(root, e["path"]) for e in manifest(root, version)["files"]]


def head_version(root: str) -> int:
    names = glob.glob(os.path.join(root, "_txlog", "v*.json"))
    return max(int(os.path.basename(n)[1:-5]) for n in names)


def _scan(files: list[str]) -> str:
    return "read_parquet([" + ", ".join(f"'{p}'" for p in files) + "])"


def word_grams(text: str, k: int = 3) -> set[str]:
    w = text.lower().split()
    return {" ".join(w[i:i + k]) for i in range(max(len(w) - k, 0) + 1)}


def recall_bound(js: list[float]) -> float:
    """Lower bound on how many planted pairs LSH must find: the S-curve
    expectation less ``SIGMAS`` binomial standard deviations."""
    p = [s_curve(j) for j in js]
    return sum(p) - SIGMAS * math.sqrt(sum(x * (1 - x) for x in p))


# ---------------------------------------------------------------- curate


def check_curate(raw_path: str, report: list[tuple], planted, stage_dirs: dict[str, str],
                 max_tokens: int) -> list[str]:
    """``stage_dirs``: stage name -> txlog root; ``report``: the funnel
    report rows (stage, docs, tokens); ``planted``: gen.Corpus."""
    con = duckdb.connect()
    fails: list[str] = []
    files = {s: manifest_files(d, head_version(d)) for s, d in stage_dirs.items()}
    scan = {s: _scan(f) for s, f in files.items()}
    rows = lambda sql: con.execute(sql).fetchall()  # noqa: E731

    raw = {r[0]: r[1:] for r in rows(f"SELECT doc_id, text, lang, source FROM '{raw_path}'")}
    gate = {r[0] for r in rows(f"SELECT doc_id FROM {scan['quality_gate']}")}
    exact = {r[0] for r in rows(f"SELECT doc_id FROM {scan['exact_dedup']}")}
    near = {r[0] for r in rows(f"SELECT doc_id FROM {scan['near_dedup']}")}
    clean = {r[0] for r in rows(f"SELECT doc_id FROM {scan['decontaminated']}")}

    passed_short = [d for d in planted.short if d in gate]
    if passed_short:
        fails.append(f"{len(passed_short)} planted short docs passed the quality gate, e.g. {passed_short[:3]}")

    # exact dedup: one row per distinct gate text
    (distinct,) = con.execute(f"SELECT count(DISTINCT text) FROM {scan['quality_gate']}").fetchone()
    if len(exact) != distinct:
        fails.append(f"exact_dedup has {len(exact)} rows, gate output has {distinct} distinct texts")
    # the lower id of a planted (original, copy) pair is the one kept
    missed = [max(o, c) for o, c in planted.copies if max(o, c) in exact]
    if missed:
        fails.append(f"{len(missed)} planted exact copies survive exact dedup, e.g. {missed[:3]}")

    # near dedup precision: every drop has a lower-id partner in its block
    # at exact char-5 Jaccard >= threshold
    family_of = {m: fam for fam in planted.families for m in fam}
    by_block = defaultdict(list)
    for d in exact:
        by_block[(raw[d][1], raw[d][2])].append(d)
    sh = {}

    def shingles(d):
        if d not in sh:
            sh[d] = char_shingles(raw[d][0])
        return sh[d]

    for d in sorted(exact - near):
        block = (raw[d][1], raw[d][2])
        first = [m for m in family_of.get(d, []) if m < d and m in exact]
        rest = [m for m in by_block[block] if m < d]
        if not any(jaccard(shingles(d), shingles(m)) >= NEAR_THRESHOLD for m in first + rest):
            fails.append(f"near_dedup dropped doc {d} with no lower-id partner in block {block} at J >= {NEAR_THRESHOLD}")
    if not near <= exact:
        fails.append("near_dedup holds docs that exact_dedup did not keep")

    # near dedup recall: planted same-block family members above the S-curve bound
    js, dropped = [], 0
    for fam in planted.families:
        head = fam[0]
        if head not in exact:
            continue
        for m in fam[1:]:
            if m not in exact:
                continue
            js.append(jaccard(shingles(head), shingles(m)))
            dropped += m not in near
    if js and dropped < recall_bound(js):
        fails.append(f"near_dedup removed {dropped} of {len(js)} planted family members; "
                     f"the S-curve bound is {recall_bound(js):.1f}")

    # decontamination: no survivor shares a word 3-gram with the benchmark slice
    bench = set()
    for d, (text, _l, _s) in raw.items():
        if d % 10 == 0:
            bench |= word_grams(text)
    dirty = [d for d in clean if d % 10 == 0 or word_grams(raw[d][0]) & bench]
    if dirty:
        fails.append(f"{len(dirty)} decontaminated survivors share a 3-gram with the benchmark slice, e.g. {dirty[:3]}")
    if not clean <= near:
        fails.append("decontaminated holds docs that near_dedup did not keep")

    # packing: every clean doc in exactly one sequence, token mass conserved,
    # no multi-doc sequence over budget
    packed = rows(f"SELECT id, \"group\", n_tokens, seq_id, seq_tokens FROM {scan['packed']}")
    ids = [r[0] for r in packed]
    if sorted(ids) != sorted(clean):
        fails.append(f"packed holds {len(ids)} rows for {len(clean)} decontaminated docs "
                     f"({len(set(ids))} distinct)")
    want_tokens = sum(len(raw[d][0].split()) for d in clean)
    if sum(r[2] for r in packed) != want_tokens:
        fails.append(f"packed tokens {sum(r[2] for r in packed)} != whitespace tokens {want_tokens}")
    seqs = defaultdict(list)
    for r in packed:
        seqs[(r[1], r[3])].append(r)
    for key, members in seqs.items():
        total = sum(r[2] for r in members)
        if len(members) > 1 and total > max_tokens:
            fails.append(f"sequence {key} packs {total} tokens in {len(members)} docs (budget {max_tokens})")
            break
        if any(r[4] != total for r in members):
            fails.append(f"sequence {key} reports seq_tokens {members[0][4]}, members sum to {total}")
            break

    # report: stage counts against DuckDB over the committed stage files
    tok = "len(string_split_regex(trim(text), '\\s+'))"
    want = {"raw": con.execute(f"SELECT count(*), sum({tok}) FROM '{raw_path}'").fetchone()}
    for s in ("quality_gate", "exact_dedup", "near_dedup", "decontaminated"):
        want[s] = con.execute(f"SELECT count(*), coalesce(sum({tok}), 0) FROM {scan[s]}").fetchone()
    want["packed"] = con.execute(
        f"SELECT count(DISTINCT concat_ws('|', \"group\", seq_id)), sum(n_tokens) FROM {scan['packed']}").fetchone()
    got = {r[0]: (r[1], r[2]) for r in report}
    for s, w in want.items():
        if got.get(s) != tuple(w):
            fails.append(f"report row {s} = {got.get(s)}, DuckDB over the stage files gives {tuple(w)}")
    return fails


# ---------------------------------------------------------------- ingest


def check_ingest(texts: dict[int, str], steps: list[tuple[set[int], str]],
                 straddling: list[tuple[int, int, float]], sig_dirs: list[str],
                 want_history: int) -> list[str]:
    """``steps``: (batch ids, pair parquet dir) per step, in order;
    ``straddling``: planted (earlier id, batch id, J) pairs of these
    batches; ``sig_dirs``: the store's live signature dirs after the last
    step; ``want_history``: base rows + every batch's rows."""
    con = duckdb.connect()
    fails: list[str] = []
    seen: set[tuple[int, int]] = set()
    for k, (batch, pair_dir) in enumerate(steps):
        pairs = con.execute(
            f"SELECT id_a, id_b, jaccard_sim FROM read_parquet('{pair_dir}/*.parquet')").fetchall()
        for a, b, j in pairs:
            key = (min(a, b), max(a, b))
            if a not in batch and b not in batch:
                fails.append(f"step {k}: pair {key} touches no doc of the batch")
            if key in seen:
                fails.append(f"step {k}: pair {key} was already emitted by an earlier step")
            seen.add(key)
            exact = jaccard(char_shingles(texts[a]), char_shingles(texts[b]))
            if abs(exact - j) > 1e-9 or j < NEAR_THRESHOLD:
                fails.append(f"step {k}: pair {key} jaccard_sim {j} (exact {exact:.6f}, threshold {NEAR_THRESHOLD})")
        if len(fails) > 20:
            break
    hits = sum((min(a, b), max(a, b)) in seen for a, b, _ in straddling)
    bound = recall_bound([j for _a, _b, j in straddling])
    if straddling and hits < bound:
        fails.append(f"found {hits} of {len(straddling)} planted straddling pairs; the S-curve bound is {bound:.1f}")
    (n_hist,) = con.execute(
        "SELECT count(*) FROM read_parquet([" + ", ".join(f"'{d}/**/*.parquet'" for d in sig_dirs) + "])"
    ).fetchone()
    if n_hist != want_history:
        fails.append(f"signature store holds {n_hist} rows, base + batches = {want_history}")
    return fails


# ---------------------------------------------------------------- star_etl


def check_star(src: dict[str, str], fact_root: str, load_version: int, merge_version: int) -> list[str]:
    """Load and merge of ``fact_sales`` against DuckDB over the sources."""
    con = duckdb.connect()
    fails: list[str] = []
    loaded = _scan(manifest_files(fact_root, load_version))
    merged = _scan(manifest_files(fact_root, merge_version))
    one = lambda sql: con.execute(sql).fetchone()  # noqa: E731
    (n_ev,) = one(f"SELECT count(*) FROM '{src['events']}'")
    (n_fact,) = one(f"SELECT count(*) FROM {loaded}")
    if n_fact != n_ev:
        fails.append(f"fact_sales has {n_fact} rows for {n_ev} events")
    (want_null,) = one(
        f"SELECT count(*) FROM '{src['events']}' e "
        f"WHERE e.customer_id NOT IN (SELECT id FROM '{src['customers']}') "
        f"OR e.product_id NOT IN (SELECT id FROM '{src['products']}')")
    (got_null,) = one(f"SELECT count(*) FROM {loaded} WHERE external_id IS NULL OR sku IS NULL")
    if got_null != want_null or want_null == 0:
        fails.append(f"fact_sales has {got_null} null-payload rows, DuckDB counts {want_null} unmatched events")
    (want_rev,) = one(f"SELECT sum(qty * unit_price) FROM '{src['events']}'")
    (got_rev,) = one(f"SELECT sum(qty * unit_price) FROM {loaded}")
    if got_rev != want_rev:
        fails.append(f"fact_sales sum(qty*unit_price) {got_rev} != {want_rev}")
    want = one(
        f"SELECT count(*), sum(qty) FROM ("
        f" SELECT event_id, qty FROM '{src['events']}'"
        f"  WHERE event_id NOT IN (SELECT event_id FROM '{src['changes']}')"
        f" UNION ALL SELECT event_id, qty FROM '{src['changes']}' WHERE NOT _deleted)")
    got = one(f"SELECT count(*), sum(qty) FROM {merged}")
    if got != want:
        fails.append(f"merged fact_sales (rows, sum qty) = {got}, DuckDB applies the changelog to {want}")
    (dupes,) = one(f"SELECT count(*) - count(DISTINCT event_id) FROM {merged}")
    if dupes:
        fails.append(f"merged fact_sales repeats {dupes} event ids")
    return fails


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows: list[tuple], cols: list[str]) -> str:
    """Order-insensitive hash of a result, columns matched by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("|".join(_cell(r[i]) for i in order) for r in rows):
        h.update(line.encode() + b"\n")
    return h.hexdigest()


def check_catalog(results: dict[str, tuple[list[str], list[tuple]]], oracle: dict[str, str],
                  table_paths: dict[str, str]) -> list[str]:
    """Each entry's rows against its DuckDB ``ORACLE`` SQL over the same files."""
    con = duckdb.connect()
    for name, path in table_paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    fails = []
    for name, (cols, rows) in results.items():
        res = con.execute(oracle[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        if len(rows) != len(orows) or sorted(cols) != sorted(ocols) or not rows:
            fails.append(f"{name}: {len(rows)} rows {sorted(cols)} vs oracle {len(orows)} rows {sorted(ocols)}")
        elif value_hash(rows, cols) != value_hash(orows, ocols):
            fails.append(f"{name}: values differ from the DuckDB oracle")
    return fails

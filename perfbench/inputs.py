"""Seeded input generation for the three workloads.

Every input is a pure function of (workload, seed, scale): numpy's PCG64
stream seeded from them, written with pyarrow/DuckDB. Inputs are built once
per (workload, seed, scale) under the benchmark's work root, outside any
timed region, and carry a fingerprint (sha256 over every file) that is
re-checked before each reuse.

meds_etl draws its whole MEDS root from the seed. The two corpus workloads
run over one fixed documents table per scale (the role the sf0.1 documents
play for the repository's gates) and the seed sets the row order in which
it is staged. Their expected outputs are therefore one per scale, and the
check also proves the pipelines do not depend on input row order.
"""
import hashlib
import json
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# words of the synthetic corpus (the shape of the repo's documents testdata)
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "fr", "de", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
BASE_CODES = ["signup", "click", "error", "view", "purchase"]

# input sizes: "bench" is what the benchmark runs, "smoke" the self-tests'
# small scale
SCALES = {
    "bench": {"meds_subjects": 1000, "docs": 5000},
    "smoke": {"meds_subjects": 60, "docs": 300},
}


def rng_for(workload, seed, scale):
    key = hashlib.sha256(f"{workload}:{seed}:{scale}".encode()).digest()
    return np.random.default_rng(int.from_bytes(key[:8], "little"))


def _empty_metadata(con, root):
    os.makedirs(f"{root}/metadata", exist_ok=True)
    con.execute(f"""COPY (SELECT NULL::VARCHAR AS code, NULL::VARCHAR AS description,
        NULL::VARCHAR[] AS parent_codes LIMIT 0)
        TO '{root}/metadata/codes.parquet' (FORMAT PARQUET)""")


def gen_meds(root, rng, n_subjects):
    """A MEDS root: ~66 events per subject, ~1k codes (5 base event types x
    a seeded code suffix), one static (null-time) row per subject, a seeded
    80/10/10 subject split, 4 train shards + 1 tuning + 1 held_out."""
    subj = np.sort(rng.choice(10**9, size=n_subjects, replace=False)).astype(np.int64)
    n_ev = rng.integers(10, 122, size=n_subjects)
    sid = np.repeat(subj, n_ev)
    n = len(sid)
    # strictly increasing times per subject: (subject, time) is unique
    start = rng.integers(1_577_836_800, 1_704_067_200, size=n_subjects) * 1_000_000
    step = rng.integers(60_000_000, 86_400_000_000, size=n)
    first = np.repeat(np.cumsum(n_ev) - n_ev, n_ev)
    cum = np.cumsum(step)
    rel = cum - cum[first] + step[first]
    t_us = np.repeat(start, n_ev) + rel
    base = rng.integers(0, len(BASE_CODES), size=n)
    suffix = np.minimum(rng.zipf(1.3, size=n), 200) - 1
    code_id = base * 200 + suffix
    mu = rng.uniform(5, 200, size=len(BASE_CODES) * 200)
    sd = mu * rng.uniform(0.05, 0.5, size=len(mu))
    val = np.round(rng.normal(mu[code_id], sd[code_id]), 2)
    val = np.where(rng.random(n) < 0.01, val * 10, val)  # outliers
    codes = np.array([f"{b.upper()}//{s}" for b in BASE_CODES for s in range(200)])
    has_val = BASE_CODES.index("view") != base  # view events carry no value
    split_u = rng.random(n_subjects)
    split = np.where(split_u < 0.8, "train", np.where(split_u < 0.9, "tuning", "held_out"))
    shard = np.where(split == "train", rng.integers(0, 4, size=n_subjects), 0)
    static_codes = np.array([f"EYE_COLOR//{c}" for c in ("BROWN", "BLUE", "HAZEL")])
    ev = pa.table({
        "subject_id": np.concatenate([sid, subj]),
        "time": pa.array(np.concatenate([t_us, np.zeros(n_subjects, np.int64)]),
                         pa.timestamp("us", tz="UTC"),
                         mask=np.concatenate([np.zeros(n, bool), np.ones(n_subjects, bool)])),
        "code": np.concatenate([codes[code_id],
                                static_codes[rng.integers(0, 3, size=n_subjects)]]),
        "numeric_value": pa.array(np.concatenate([val, np.zeros(n_subjects)]).astype(np.float32),
                                  mask=np.concatenate([~has_val, np.ones(n_subjects, bool)])),
    })
    splits = pa.table({"subject_id": subj, "split": split})
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.register("ev", ev)
    con.register("assign", pa.table({"subject_id": subj, "split": split, "shard": shard}))
    for sp, k in [("train", 0), ("train", 1), ("train", 2), ("train", 3),
                  ("tuning", 0), ("held_out", 0)]:
        os.makedirs(f"{root}/data/{sp}", exist_ok=True)
        con.execute(f"""COPY (SELECT ev.* FROM ev JOIN assign a USING (subject_id)
            WHERE a.split = '{sp}' AND a.shard = {k}
            ORDER BY subject_id, time NULLS FIRST)
            TO '{root}/data/{sp}/{k}.parquet' (FORMAT PARQUET)""")
    _empty_metadata(con, root)
    pq.write_table(splits, f"{root}/metadata/subject_splits.parquet")
    with open(f"{root}/metadata/dataset.json", "w") as f:
        json.dump({"dataset_name": "perfbench_meds", "dataset_version": "1"}, f)
    return n + n_subjects


def gen_documents(rng, n_docs):
    """The documents table: 10-100 words from a 30-word vocabulary, ~1%
    exact duplicates, five languages, twenty sources."""
    lens = rng.integers(10, 101, size=n_docs)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), size=int(lens.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    text = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    dup = rng.random(n_docs) < 0.01
    src = rng.integers(0, n_docs, size=n_docs)
    text = [text[s] if d else t for t, d, s in zip(text, dup, src)]
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), size=n_docs, p=LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, size=n_docs).astype(str)),
    })


def _stub_root(con, root):
    """The runner's input-root contract for corpus pipelines (their first
    stage replaces the data table): one document row, empty metadata."""
    os.makedirs(f"{root}/data/train", exist_ok=True)
    con.execute(f"COPY (SELECT * FROM documents LIMIT 1) TO "
                f"'{root}/data/train/0.parquet' (FORMAT PARQUET)")
    _empty_metadata(con, root)
    con.execute(f"""COPY (SELECT NULL::BIGINT AS subject_id, NULL::VARCHAR AS split LIMIT 0)
        TO '{root}/metadata/subject_splits.parquet' (FORMAT PARQUET)""")


# the curation gate's corpus construction (Queries.curationCorpus), whose
# oracle replays the same expression from the documents table
CURATION_TEXT = """substr(text,1,40) || '.' || chr(10) ||
   'short line.' || chr(10) ||
   source || ' uses javascript on every page today.' || chr(10) ||
   (CASE WHEN doc_id%7=0 THEN 'lorem ipsum dolor sit amet.'
         WHEN doc_id%5=3 THEN 'no terminal punctuation here at all'
         ELSE lang || ' words fill this line nicely fine.' END) || chr(10) ||
   (CASE WHEN doc_id%11=0 THEN 'a code { block } appears.'
         ELSE 'normal ending line with words here.' END) || chr(10) ||
   substr(text,1,60)"""


def gen_corpus(workload, root, rng, n_docs, scale):
    docs = gen_documents(rng_for("documents", 0, scale), n_docs)
    order = rng.permutation(n_docs)  # seeded row order of the staged source
    con = duckdb.connect()
    con.register("documents", docs)
    con.register("perm", pa.table({"doc_id": np.arange(n_docs, dtype=np.int64),
                                   "pos": order}))
    pq.write_table(docs, f"{root}/documents.parquet")
    _stub_root(con, f"{root}/in")
    os.makedirs(f"{root}/corpus")
    if workload == "analysis_ckpt":
        con.execute(f"""COPY (SELECT doc_id, text, lang, source FROM documents
            JOIN perm USING (doc_id) ORDER BY pos)
            TO '{root}/corpus/part-0.csv' (FORMAT CSV, HEADER)""")
    else:
        con.execute(f"""CREATE TABLE cur AS SELECT doc_id, {CURATION_TEXT} AS text,
            lang, source, pos FROM documents JOIN perm USING (doc_id)""")
        con.execute(f"""COPY (SELECT doc_id, text, lang, source FROM cur ORDER BY pos)
            TO '{root}/corpus/part-0.json' (FORMAT JSON)""")
        os.makedirs(f"{root}/eval")
        con.execute(f"""COPY (SELECT doc_id, text FROM cur WHERE doc_id % 50 = 0
            ORDER BY pos) TO '{root}/eval/part-0.parquet' (FORMAT PARQUET)""")
    return n_docs


def fingerprint(root):
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for name in sorted(files):
            if name == "manifest.json":
                continue
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def file_sha(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def input_bytes(root, workload):
    """Bytes the pipeline reads: the MEDS root, or the staged corpus (plus
    the eval corpus) and the stub input root."""
    parts = (["."] if workload == "meds_etl" else ["in", "corpus", "eval"])
    total = 0
    for part in parts:
        for dirpath, _, files in os.walk(os.path.join(root, part)):
            for name in files:
                if name.endswith((".parquet", ".csv", ".json")) and name != "manifest.json":
                    total += os.path.getsize(os.path.join(dirpath, name))
    return total


def ensure_inputs(work, workload, seed, scale):
    """Build (once) and verify the inputs of one (workload, seed, scale);
    returns the manifest."""
    root = os.path.join(work, "inputs", f"{workload}-{scale}-s{seed}")
    mpath = os.path.join(root, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as f:
            manifest = json.load(f)
        if fingerprint(root) == manifest["fingerprint"]:
            return manifest
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    rng = rng_for(workload, seed, scale)
    sizes = SCALES[scale]
    if workload == "meds_etl":
        rows = gen_meds(root, rng, sizes["meds_subjects"])
    else:
        rows = gen_corpus(workload, root, rng, sizes["docs"], scale)
    # what the expected output depends on: the whole MEDS root, or the
    # documents table whatever its staged order
    content = fingerprint(root) if workload == "meds_etl" else \
        file_sha(os.path.join(root, "documents.parquet"))
    manifest = {"root": root, "rows": rows, "bytes": input_bytes(root, workload),
                "fingerprint": fingerprint(root), "content": content}
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    return manifest

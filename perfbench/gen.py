"""Seeded input generators for the benchmark's workloads.

Every input the program receives is made here from the workload seed, so
the same seed gives the same inputs. Expected answers (the counts the
output checks compare against) are derived here too, from the generated
rows, without going through the program.

Why each varied property has the value it has:

- bulk_load routing key: Zipf (s = 1.1) over 4000 tenants. Real tenant or
  customer keys are skewed; skew decides how unevenly the routing exchange
  fills the 16 shards and how much a routed get reads for a hot key
  (the hottest tenant holds about a sixth of the rows).
- bulk_load map column: 40 possible keys, 4 to 12 per row, some empty
  values. The transform discovers map keys with a distributed pass and
  flattens each key into its own field, so the key count sets the width
  of every document.
- search_serve duplicates: the served corpus is first curated. 5 % of the
  raw docs are exact duplicates (case and whitespace variants of their
  base), 5 % near-duplicates (three words changed, same embedding as the
  base), 3 % junk that the quality gate drops and 1 % are copied into the
  decontamination set. Every count the curation reports can then be
  predicted exactly.
- search_serve terms: Zipf (s = 1.05) over a 12000-word vocabulary with
  the five English stopwords at the top. Queries mix hot and rare terms,
  so the postings one query reads range from a few rows to a sixth of
  the corpus.
- search_serve embeddings: 32 dimensions around 48 centres, spread so that
  the vector index has real clusters to probe while no two distinct docs
  reach the near-duplicate threshold.
"""

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes, chosen so that a run of each workload fits the time one
# benchmark run may take on a 4-core, 15 GB machine.
LOAD_ROWS = 60_000
LOAD_FILES = 8
LOAD_TENANTS = 4000
LOAD_ZIPF_S = 1.1
LOAD_MAP_KEYS = 40
LOAD_GET_KEYS = 600

SERVE_RAW_DOCS = 2_000
SERVE_SOURCES = 20
SERVE_MIX_SHARE = 0.8
SERVE_VOCAB = 12_000
SERVE_ZIPF_S = 1.05
SERVE_DIM = 32
SERVE_CENTERS = 48
SERVE_SPREAD = 1.2
SERVE_APPEND_BATCHES = 40
SERVE_APPEND_DOCS = 400
SERVE_OPS = 400
READ_KINDS = ("bm25", "bm25_batch8", "phrase", "fuzzy", "bool", "mlt", "knn", "hybrid")
# the cosine CorpusPipeline's embedding near-dup stage drops at (its default)
NEAR_DUP_THRESHOLD = 0.9

STOPWORDS = ["the", "a", "of", "and", "to"]


def _vocab(rng, n):
    """n distinct lowercase pseudo-words, stopwords first."""
    cons = list("bcdfghjklmnprstvz")
    vows = list("aeiou")
    words, seen = list(STOPWORDS), set(STOPWORDS)
    while len(words) < n:
        k = int(rng.integers(2, 5))
        w = "".join(rng.choice(cons) + rng.choice(vows) for _ in range(k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words, dtype=object)


def _zipf_ranks(rng, n_items, s, size):
    """Ranks 0..n_items-1 drawn with P(r) proportional to 1/(r+1)^s."""
    p = 1.0 / np.arange(1, n_items + 1) ** s
    p /= p.sum()
    return rng.choice(n_items, size=size, p=p)


def _texts(rng, vocab, zipf_s, lengths):
    ranks = _zipf_ranks(rng, len(vocab), zipf_s, int(lengths.sum()))
    words = vocab[ranks]
    out, at = [], 0
    for n in lengths:
        out.append(" ".join(words[at:at + n]))
        at += n
    return out


def _write(table, path, files=1):
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = (n + files - 1) // files
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"))


def gen_bulk_load(seed, out):
    rng = np.random.default_rng([seed, 1])
    n = LOAD_ROWS
    ids = rng.permutation(n).astype(np.int64) + 1_000_000
    tenant_rank = _zipf_ranks(rng, LOAD_TENANTS, LOAD_ZIPF_S, n)
    tenant_names = np.array([f"t{r}" for r in range(LOAD_TENANTS)], dtype=object)
    tenant = tenant_names[tenant_rank]
    qty = rng.integers(0, 1000, n).astype(np.int32)
    qty_null = rng.random(n) < 0.03
    amount = np.round(rng.gamma(2.0, 50.0, n), 2)
    amount_null = rng.random(n) < 0.03
    statuses = np.array(["active", "pending", "closed", "deleted", ""], dtype=object)
    status = statuses[rng.choice(5, n, p=[0.5, 0.2, 0.14, 0.1, 0.06])]
    status_null = rng.random(n) < 0.02
    names = np.array([f"item {i}" for i in range(500)] + [""], dtype=object)
    name = names[rng.integers(0, len(names), n)]
    name_null = rng.random(n) < 0.02
    created = (1_600_000_000_000_000 +
               rng.integers(0, 3 * 365 * 86400, n) * 1_000_000).astype(np.int64)
    created_null = rng.random(n) < 0.02
    # map column: 4..12 distinct keys per row out of LOAD_MAP_KEYS
    per_row = rng.integers(4, 13, n)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(per_row, out=offsets[1:])
    # the first per_row[i] columns of a random permutation of the keys
    perm = np.argsort(rng.random((n, LOAD_MAP_KEYS)), axis=1)
    keys = perm[np.arange(LOAD_MAP_KEYS)[None, :] < per_row[:, None]]
    key_names = np.array([f"Attr.{k:02d}" for k in range(LOAD_MAP_KEYS)], dtype=object)
    vals = rng.integers(0, 10_000, len(keys))
    val_strs = np.where(vals % 17 == 0, "", np.char.add("v", vals.astype(str))).astype(object)
    attrs = pa.MapArray.from_arrays(pa.array(offsets), pa.array(key_names[keys], pa.string()),
                                    pa.array(val_strs, pa.string()))
    table = pa.table({
        "id": pa.array(ids, pa.int64()),
        "tenant": pa.array(tenant, pa.string()),
        "qty": pa.array(qty, pa.int32(), mask=qty_null),
        "amount": pa.array(amount, pa.float64(), mask=amount_null),
        "status": pa.array(status, pa.string(), mask=status_null),
        "name": pa.array(name, pa.string(), mask=name_null),
        "created": pa.array(created, pa.timestamp("us"), mask=created_null),
        "attrs": attrs,
    })
    _write(table, os.path.join(out, "table"), LOAD_FILES)
    # expected answers under the load's WHERE (status <> 'deleted'): SQL
    # three-valued logic drops NULL status rows too
    kept = (~status_null) & (status != "deleted")
    kept_keys, kept_counts = np.unique(tenant_rank[kept], return_counts=True)
    per_key = {f"t{k}": int(c) for k, c in zip(kept_keys, kept_counts)}
    get_keys = [f"t{r}" for r in _zipf_ranks(rng, LOAD_TENANTS, LOAD_ZIPF_S, LOAD_GET_KEYS)]
    with open(os.path.join(out, "expected.tsv"), "w") as f:
        f.write(f"total\t{int(kept.sum())}\n")
    with open(os.path.join(out, "gets.tsv"), "w") as f:
        for k in get_keys:
            f.write(f"{k}\t{per_key.get(k, 0)}\n")



def _clustered_vectors(rng, n, centers):
    """n vectors around the rows of `centers`: IVF cells then hold real
    clusters, as they do for embeddings of topical text."""
    v = centers[rng.integers(0, len(centers), n)] + SERVE_SPREAD * rng.normal(
        size=(n, centers.shape[1]))
    return v.astype(np.float32)


def _max_cosine(vecs):
    """Largest cosine between two distinct rows, computed in blocks."""
    u = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    best = -1.0
    for i in range(0, len(u), 1000):
        s = u[i:i + 1000] @ u.T
        s[np.arange(len(s)), np.arange(i, i + len(s))] = -1.0
        best = max(best, float(s.max()))
    return best


def _docs_table(ids, texts, vecs, extra=None):
    cols = {"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}
    if extra:
        cols.update(extra)
    cols["embedding"] = pa.FixedSizeListArray.from_arrays(
        pa.array(vecs.reshape(-1), pa.float32()), vecs.shape[1]).cast(pa.list_(pa.float32()))
    return pa.table(cols)


def _raw_corpus(rng, vocab, centers, out):
    """The corpus search_serve curates before serving it, with planted
    junk, contaminated docs, exact and near duplicates. Writes the corpus,
    the decontamination set and the expected curation counts; returns the
    texts and vectors of the docs that pass quality and decontamination."""
    n = SERVE_RAW_DOCS
    n_exact, n_near = n * 5 // 100, n * 5 // 100
    n_junk, n_contam = n * 3 // 100, n // 100
    n_plain = n - n_exact - n_near
    # plain docs take ids 0..n_plain-1 and planted copies the ids after
    # them, so a copy's id is above its base's: the lowest id survives dedup
    texts = _texts(rng, vocab, SERVE_ZIPF_S, rng.integers(60, 120, n_plain))
    vecs = _clustered_vectors(rng, n_plain, centers)
    if _max_cosine(vecs) >= NEAR_DUP_THRESHOLD:
        raise RuntimeError("generated vectors contain an accidental near duplicate")
    src_p = 1.0 / np.arange(1, SERVE_SOURCES + 1) ** 1.2
    src_p /= src_p.sum()
    sources = np.array([f"src{i:02d}" for i in range(SERVE_SOURCES)], dtype=object)[
        rng.choice(SERVE_SOURCES, n_plain, p=src_p)]
    roles = rng.permutation(n_plain)
    junk = roles[:n_junk]
    contam = roles[n_junk:n_junk + n_contam]
    exact_base = roles[n_junk + n_contam:n_junk + n_contam + n_exact]
    near_base = roles[n_junk + n_contam + n_exact:n_junk + n_contam + n_exact + n_near]
    for j in junk:
        # short, no stopwords, mostly punctuation: below the quality gate
        texts[j] = ";".join(str(x) for x in rng.integers(0, 99, 12))
    all_texts, all_src = list(texts), list(sources)
    for b in exact_base:
        # the same text once lower-cased and with whitespace collapsed
        w = texts[b].split(" ")
        w[0] = w[0].upper()
        all_texts.append("  " + "   ".join(w) + " ")
        all_src.append(sources[b])
    for b in near_base:
        w = texts[b].split(" ")
        for p in rng.choice(len(w), 3, replace=False):
            w[p] = vocab[int(rng.integers(5, len(vocab)))]
        all_texts.append(" ".join(w))
        all_src.append(sources[b])
    all_vecs = np.concatenate([vecs, vecs[exact_base], vecs[near_base]])
    order = rng.permutation(n)  # the files hold the rows shuffled
    table = _docs_table(np.arange(n, dtype=np.int64)[order],
                        np.array(all_texts, dtype=object)[order], all_vecs[order],
                        {"source": pa.array(np.array(all_src, dtype=object)[order], pa.string())})
    _write(table, os.path.join(out, "corpus"), 4)
    _write(pa.table({"text": pa.array([texts[c] for c in contam], pa.string())}),
           os.path.join(out, "bench"), 1)
    after_quality = n - n_junk
    after_decontam = after_quality - n_contam
    after_exact = after_decontam - n_exact
    expected = [("input", n), ("after_quality", after_quality),
                ("after_decontam", after_decontam), ("after_exact", after_exact),
                ("after_near_dup", after_exact - n_near),
                ("mix_budget", int(sum(len(t) for t in texts) * SERVE_MIX_SHARE))]
    with open(os.path.join(out, "expected.tsv"), "w") as f:
        f.writelines(f"{k}\t{v}\n" for k, v in expected)
    with open(os.path.join(out, "exact_dups.tsv"), "w") as f:
        f.writelines(f"{i}\n" for i in range(n_plain, n_plain + n_exact))
    clean = np.setdiff1d(np.arange(n_plain), np.concatenate([junk, contam]))
    return [texts[i] for i in clean], vecs[clean]


def gen_search_serve(seed, out):
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, SERVE_VOCAB)
    centers = rng.normal(size=(SERVE_CENTERS, SERVE_DIM))
    texts, vecs = _raw_corpus(rng, vocab, centers, out)
    n = SERVE_RAW_DOCS
    os.makedirs(os.path.join(out, "appends"), exist_ok=True)
    for b in range(SERVE_APPEND_BATCHES):
        m = SERVE_APPEND_DOCS
        ids = np.arange(n + b * m, n + (b + 1) * m, dtype=np.int64)
        bt = _texts(rng, vocab, SERVE_ZIPF_S, rng.integers(60, 120, m))
        pq.write_table(_docs_table(ids, bt, _clustered_vectors(rng, m, centers)),
                       os.path.join(out, "appends", f"batch-{b:03d}.parquet"))

    def term(hot):
        # hot: the 50 most frequent words after the stopwords; rare: the
        # tail of the vocabulary
        return vocab[rng.integers(5, 55) if hot else rng.integers(2000, len(vocab))]

    def query_text():
        return " ".join(term(rng.random() < 0.5) for _ in range(int(rng.integers(1, 4))))

    def typo(w):
        i = int(rng.integers(0, len(w)))
        return w[:i] + ("x" if w[i] != "x" else "q") + w[i + 1:]

    def doc():
        return int(rng.integers(0, len(texts)))

    def qvec():
        q = vecs[doc()] + 0.2 * rng.normal(size=SERVE_DIM)
        return ",".join(f"{x:.5f}" for x in q)

    common = set(vocab[:200])
    lines = []
    for i in range(SERVE_OPS):
        # every tenth op appends; reads cycle through the kinds in a fixed
        # order, so every run serves the same mix
        if i % 10 == 9:
            lines.append("append")
            continue
        kind = READ_KINDS[(i - i // 10) % len(READ_KINDS)]
        if kind == "bm25":
            lines.append(f"bm25\t{query_text()}")
        elif kind == "bm25_batch8":
            lines.append("bm25_batch8\t" + "|".join(query_text() for _ in range(8)))
        elif kind == "phrase":
            words = texts[doc()].split(" ")
            j = int(rng.integers(0, len(words) - 1))
            lines.append(f"phrase\t{words[j]} {words[j + 1]}")
        elif kind == "fuzzy":
            lines.append(f"fuzzy\t{typo(term(False))} {typo(term(False))}")
        elif kind == "bool":
            lines.append(f"bool\t{term(True)}\t{term(False)} {term(True)}\t{term(True)}")
        elif kind == "mlt":
            # a like-text needs a common word twice (min_term_freq 2,
            # min_doc_freq 5)
            while True:
                like = texts[doc()]
                words = [w for w in like.split(" ") if w in common]
                if len(set(words)) < len(words):
                    break
            lines.append(f"mlt\t{like}")
        elif kind == "knn":
            lines.append(f"knn\t{qvec()}")
        else:
            lines.append(f"hybrid\t{query_text()}\t{qvec()}")
    with open(os.path.join(out, "ops.tsv"), "w") as f:
        f.writelines(line + "\n" for line in lines)


GENERATORS = {"bulk_load": gen_bulk_load, "search_serve": gen_search_serve}


def ensure(workload, seed, cache_root):
    """Generate the workload's inputs for `seed` unless already cached;
    returns the input directory."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(cache_root, f"{workload}-{version}-s{seed}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        tmp = out + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        GENERATORS[workload](seed, tmp)
        with open(os.path.join(tmp, "_DONE"), "w") as f:
            json.dump({"workload": workload, "seed": seed}, f)
        os.rename(tmp, out)
    os.utime(done)
    return out

"""Seeded input generator for the benchmark's three workloads.

Every input is a pure function of (workload, seed, size parameters): the
same seed writes byte-identical files. Documents are Markdown-headed
texts over a Zipf vocabulary with a log-normal spread of lengths. They
are already in the engine's normal form (single spaces, no blank-line
runs, no hyphenation, no soft hyphens, no `[....]` lines), so the
engine's fixed-stride chunk count is closed-form in the text length.

Outputs (JSON Lines, read by the harness into parquet tables):
  ingest: docs.jsonl           doc_id, text, batch (0 = seed batch)
  dedup:  docs.jsonl, truth.json (planted exact and near duplicates)
  serve:  docs.jsonl, vectors.jsonl, ops.json
"""

import json
import math
import os
import random
import statistics

VOCAB_SIZE = 4000
ZIPF_S = 1.1
LENGTH_BLOCK = 100
DIMS = 64
CLUSTERS = 24

# workload sizes
INGEST_SEED_DOCS = 400
INGEST_BATCH_NEW = 240
INGEST_BATCH_REPROCESSED = 60
INGEST_RECENT = 3
DEDUP_DOCS = 800
DEDUP_MEDIAN_WORDS = 80
DEDUP_EXACT_SHARE = 0.05
DEDUP_NEAR_SHARE = 0.05
NEAR_EDIT_SHARE = 0.01
SERVE_DOCS = 400
SERVE_UPSERT_DOCS = 2
SERVE_TOP_K = 10
SERVE_READ_ROUNDS = 2
SERVE_WARM_READS = ["dense", "lookup", "dense", "lookup_sql"]


def vocabulary():
    """A fixed vocabulary (independent of the workload seed), most
    frequent word first."""
    rng = random.Random(0)
    letters = "abcdefghijklmnopqrstuvwxyz"
    seen, words = set(), []
    while len(words) < VOCAB_SIZE:
        w = "".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


class Corpus:
    """Draws Markdown documents for one seed."""

    def __init__(self, rng, median_words=140):
        self.rng = rng
        self.median_words = median_words
        self.lengths = []
        self.words = vocabulary()
        acc, cum = 0.0, []
        for r in range(VOCAB_SIZE):
            acc += 1.0 / (r + 1) ** ZIPF_S
            cum.append(acc)
        self.cum = cum

    def draw(self, n):
        return self.rng.choices(self.words, cum_weights=self.cum, k=n)

    def n_words(self):
        """Document lengths are log-normal. They come in shuffled blocks
        of the distribution's LENGTH_BLOCK quantiles, so every block of
        documents holds the same multiset of lengths and the amount of
        text, hence of work, does not depend on the seed."""
        if not self.lengths:
            dist = statistics.NormalDist(math.log(self.median_words), 0.5)
            self.lengths = [max(30, min(500, int(round(math.exp(
                dist.inv_cdf((i + 0.5) / LENGTH_BLOCK)))))) for i in range(LENGTH_BLOCK)]
            self.rng.shuffle(self.lengths)
        return self.lengths.pop()

    def doc(self):
        """A document as (title words, [(heading words, body words)])."""
        n = self.n_words()
        n_sections = 1 + n // 120
        per = max(1, n // n_sections)
        sections = [(self.draw(self.rng.randint(2, 4)), self.draw(per))
                    for _ in range(n_sections)]
        return self.draw(self.rng.randint(3, 6)), sections

    def near_copy(self, doc):
        """The same document with NEAR_EDIT_SHARE of its body words (at
        least one) replaced by fresh draws."""
        title, sections = doc
        out = [(heading, list(body)) for heading, body in sections]
        slots = [(s, i) for s, (_, body) in enumerate(out) for i in range(len(body))]
        n = max(1, int(round(len(slots) * NEAR_EDIT_SHARE)))
        for s, i in self.rng.sample(slots, n):
            body = out[s][1]
            w = body[i]
            while w == body[i]:
                w = self.draw(1)[0]
            body[i] = w
        return title, out


def render(doc, shout_title=False):
    title, sections = doc
    t = " ".join(title)
    parts = ["# " + (t.upper() if shout_title else t)]
    for heading, body in sections:
        parts.append("## " + " ".join(heading))
        parts.append(" ".join(body))
    return "\n\n".join(parts)


def _write_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")


def _doc_row(doc_id, text, batch):
    return {"doc_id": doc_id, "text": text, "batch": batch,
            "lang": "en", "source": "gen", "n_chars": len(text)}


def gen_ingest(out, seed, batches):
    """A seed batch plus `batches` landing batches; each landing batch
    holds new documents and re-processed (rewritten) documents that
    landed in the previous INGEST_RECENT batches, so a merge touches a
    bounded, recent part of the index and batch cost stays level as the
    index grows."""
    rng = random.Random(seed)
    c = Corpus(rng)
    rows, next_id = [], 0
    for _ in range(INGEST_SEED_DOCS):
        rows.append(_doc_row(next_id, render(c.doc()), 0))
        next_id += 1
    recent = [range(0, INGEST_SEED_DOCS)]
    for b in range(1, batches + 1):
        pool = [i for r in recent[-INGEST_RECENT:] for i in r]
        for doc_id in sorted(rng.sample(pool, INGEST_BATCH_REPROCESSED)):
            rows.append(_doc_row(doc_id, render(c.doc()), b))
        first = next_id
        for _ in range(INGEST_BATCH_NEW):
            rows.append(_doc_row(next_id, render(c.doc()), b))
            next_id += 1
        recent.append(range(first, next_id))
    _write_jsonl(os.path.join(out, "docs.jsonl"), rows)
    return {"docs": len(rows), "batches": batches}


def gen_dedup(out, seed, n_docs=DEDUP_DOCS, exact_share=DEDUP_EXACT_SHARE,
              near_share=DEDUP_NEAR_SHARE):
    """Base documents plus planted copies. Every copy has a larger
    doc_id than its original, so the original is its cluster's
    representative (the engine keeps the smallest doc_id)."""
    rng = random.Random(seed)
    c = Corpus(rng, DEDUP_MEDIAN_WORDS)
    n_exact = int(round(n_docs * exact_share))
    n_near = int(round(n_docs * near_share))
    n_base = n_docs - n_exact - n_near
    base = [c.doc() for _ in range(n_base)]
    originals = rng.sample(range(n_base), n_exact + n_near)
    plants = [("exact", o) for o in originals[:n_exact]] + \
             [("near", o) for o in originals[n_exact:]]
    rng.shuffle(plants)
    rows = [_doc_row(i, render(d), 0) for i, d in enumerate(base)]
    exact, near = [], []
    for k, (kind, orig) in enumerate(plants):
        copy_id = n_base + k
        if kind == "exact":
            rows.append(_doc_row(copy_id, render(base[orig], shout_title=True), 0))
            exact.append([copy_id, orig])
        else:
            rows.append(_doc_row(copy_id, render(c.near_copy(base[orig])), 0))
            near.append([copy_id, orig])
    _write_jsonl(os.path.join(out, "docs.jsonl"), rows)
    truth = {"docs": n_docs, "exact": exact, "near": near}
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth


def _vec(rng, center, noise):
    return [round(x + rng.gauss(0.0, noise), 6) for x in center]


def gen_serve(out, seed, timed_ops):
    """A base corpus with clustered 64-dim vectors, a pool of upsert
    batches (re-processed and new documents, each with its own vector)
    and a fixed operation sequence: a warm-up prefix that runs every
    kind once and the short reads again, then the timed cycles."""
    rng = random.Random(seed)
    c = Corpus(rng)
    centers = [[rng.gauss(0.0, 1.0) for _ in range(DIMS)] for _ in range(CLUSTERS)]
    docs, vecs = [], []

    def add(doc_id, batch):
        docs.append(_doc_row(doc_id, render(c.doc()), batch))
        label = rng.randrange(CLUSTERS)
        vecs.append({"vec_id": doc_id, "embedding": _vec(rng, centers[label], 0.35),
                     "label": label, "batch": batch})

    for i in range(SERVE_DOCS):
        add(i, 0)

    # per cycle: maintain, the two writes, then short reads with one
    # sparse and one hybrid search among them. Every read in a cycle sees
    # the same table state (two writes of debt since the last maintain),
    # so a kind's median is not split between states.
    reads = ["dense", "lookup", "dense", "lookup_sql", "dense", "dense"] * SERVE_READ_ROUNDS
    cycle = ["maintain", "upsert", "delete"] + reads + ["hybrid"] + reads + ["sparse"] + reads
    kinds = sorted(set(cycle) - {"maintain"})
    # every kind once, then the short reads again: the dense and lookup
    # calls are still getting faster after their first run
    warm = kinds + ["maintain"] + SERVE_WARM_READS
    timed = []
    while len(timed) < timed_ops:
        timed += cycle

    # upsert batches: half re-process a base document, half add a new one
    untouched = list(range(SERVE_DOCS))
    rng.shuffle(untouched)
    next_id = SERVE_DOCS
    batches = 0
    terms_pool = c.words[20:400]

    def spec(kind):
        nonlocal next_id, batches
        if kind in ("dense", "hybrid"):
            s = {"vec": _vec(rng, centers[rng.randrange(CLUSTERS)], 0.35)}
            if kind == "hybrid":
                s["terms"] = rng.sample(terms_pool, rng.randint(2, 4))
            return s
        if kind == "sparse":
            return {"terms": rng.sample(terms_pool, rng.randint(2, 4))}
        if kind in ("lookup", "lookup_sql"):
            return {"keys": sorted(rng.sample(range(next_id), 5))}
        if kind == "upsert":
            batches += 1
            for j in range(SERVE_UPSERT_DOCS):
                if j % 2 == 0:
                    add(untouched.pop(), batches)
                else:
                    add(next_id, batches)
                    next_id += 1
            return {"batch": batches}
        if kind == "delete":
            return {"doc": untouched.pop()}
        return {}

    ops = [dict(kind=k, **spec(k)) for k in warm] + \
          [dict(kind=k, **spec(k)) for k in timed]
    _write_jsonl(os.path.join(out, "docs.jsonl"), docs)
    _write_jsonl(os.path.join(out, "vectors.jsonl"), vecs)
    with open(os.path.join(out, "ops.json"), "w") as f:
        json.dump({"warmup": len(warm), "top_k": SERVE_TOP_K, "ops": ops}, f)
    return {"docs": len(docs), "ops": len(ops)}


def generate(workload, out, seed, seconds):
    os.makedirs(out, exist_ok=True)
    if workload == "ingest":
        # enough landing batches that no run exhausts them: a batch takes
        # more than a second, and a traced run times 1.5 * seconds
        return gen_ingest(out, seed, batches=3 + 2 * seconds)
    if workload == "dedup":
        return gen_dedup(out, seed)
    if workload == "serve":
        return gen_serve(out, seed, timed_ops=60 * seconds)
    raise ValueError("unknown workload " + workload)

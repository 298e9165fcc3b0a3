#!/usr/bin/env python3
"""Seeded input generator for the pipeline benchmark.

Every workload's inputs derive from `profile.json` (the sf0.1 corpus's
vocabulary, token-count distribution, lang/source mix and marker share) and
the seed alone, so the same seed gives byte-identical inputs. Nothing here
calls graft code.

Writes into <out_dir>:
  documents.parquet/ doc_id, text, lang, source, n_chars (the fixture schema),
                     as INPUT_FILES part files of consecutive doc_id ranges
  store.parquet      the baseline document store in the Medline ingest schema
                     (abstracts only)
  updates.parquet    file_id, xml: one Medline update file per row (abstracts)
  properties.json    document count, token-length quantiles, injected shares,
                     update-file mix
  truth.json         near-duplicate families and contaminated ids (curation)

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

# Workload sizes. `fulltext` holds about the same token total as `abstracts`,
# grouped into full-text-length documents.
ABSTRACT_DOCS = 500
FULLTEXT_DOC_TOKENS = 5000
CURATION_DOCS = 1000
# curation: share of documents that sit in near-duplicate families, and the
# share that carry a copied eval-set sentence. Both are load settings, not
# measured rates: the sf0.1 corpus has 8 exact duplicates in 5,000 documents,
# which would leave the dedup stages nearly idle.
NEARDUP_SHARE = 0.20
CONTAM_SHARE = 0.05
# the eval set the decontamination stage checks against: sentence 0 (the
# first SENT_WINDOW tokens) of every EVAL_MOD-th document
EVAL_MOD = 50
SENT_WINDOW = 10
# the corpus arrives as this many files, so scans start out parallel
INPUT_FILES = 8

WORKLOADS = ("abstracts", "fulltext", "curation")


class Profile:
    def __init__(self, path):
        with open(path) as f:
            p = json.load(f)
        words = [(w, c) for w, c in p["vocab"] if w != "dup"]
        self.words = np.array([w for w, _ in words])
        self.word_p = np.array([c for _, c in words], dtype=float)
        self.word_p /= self.word_p.sum()
        self.lens = np.array([n for n, _ in p["token_counts"]])
        self.len_p = np.array([c for _, c in p["token_counts"]], dtype=float)
        self.len_p /= self.len_p.sum()
        self.cells = [(l, s) for l, s, _ in p["lang_source"]]
        self.cell_p = np.array([c for _, _, c in p["lang_source"]], dtype=float)
        self.cell_p /= self.cell_p.sum()
        self.marker_share = p["marker_share"]

    def tokens(self, rng, n):
        return list(self.words[rng.choice(len(self.words), size=n, p=self.word_p)])

    def abstract_lens(self, rng, n):
        """n token counts at evenly spaced quantiles of the profile's
        distribution, in seeded order: every seed gets the same multiset, so
        the work a run measures does not move with the seed."""
        cdf = np.cumsum(self.len_p)
        at = np.searchsorted(cdf, (np.arange(n) + 0.5) / n)
        return [int(x) for x in rng.permutation(self.lens[np.minimum(at, len(self.lens) - 1)])]

    def cells_for(self, rng, n):
        """(lang, source) per document in exact profile proportions
        (largest remainder), in seeded order."""
        want = self.cell_p * n
        counts = np.floor(want).astype(int)
        for i in np.argsort(-(want - counts))[:n - counts.sum()]:
            counts[i] += 1
        cells = [c for c, k in zip(self.cells, counts) for _ in range(k)]
        return [cells[i] for i in rng.permutation(n)]


def finish(rng, prof, texts):
    """Attach (lang, source) cells and the trailing marker in exact profile
    proportions."""
    n = len(texts)
    marked = set(rng.choice(n, size=round(n * prof.marker_share), replace=False).tolist())
    return [(toks + ["dup"] if i in marked else toks, lang, source)
            for i, (toks, (lang, source)) in enumerate(zip(texts, prof.cells_for(rng, n)))]


def gen_abstracts(rng, prof):
    texts = [prof.tokens(rng, k) for k in prof.abstract_lens(rng, ABSTRACT_DOCS)]
    return finish(rng, prof, texts), {}


def gen_fulltext(rng, prof):
    # the token total of an abstracts corpus of the same size, regrouped into
    # documents whose lengths spread evenly over 0.8..1.2 x FULLTEXT_DOC_TOKENS
    budget = sum(prof.abstract_lens(rng, ABSTRACT_DOCS))
    n_docs = max(1, round(budget / FULLTEXT_DOC_TOKENS))
    lens = [round(budget / n_docs * (0.8 + 0.4 * (i + 0.5) / n_docs)) for i in range(n_docs)]
    texts = [prof.tokens(rng, int(n)) for n in rng.permutation(lens)]
    return finish(rng, prof, texts), {}


def gen_curation(rng, prof):
    n = CURATION_DOCS
    n_family_docs = int(n * NEARDUP_SHARE)
    # families of 2..4 members: a parent plus copies with 0..2 tokens edited
    sizes = []
    while sum(sizes) < n_family_docs:
        sizes.append(int(rng.integers(2, 5)))
    sizes[-1] -= sum(sizes) - n_family_docs
    if sizes[-1] < 2:  # a lone parent is no family: fold it into the one before
        lone = sizes.pop()
        sizes[-1] += lone
    lens = prof.abstract_lens(rng, n)
    members = []  # (family index or -1, tokens)
    edits_hist = {0: 0, 1: 0, 2: 0}
    for f, size in enumerate(sizes):
        parent = prof.tokens(rng, max(20, lens.pop()))
        members.append((f, parent))
        for _ in range(size - 1):
            copy = list(parent)
            k = int(rng.integers(0, 3))
            edits_hist[k] += 1
            for pos in rng.choice(len(copy), size=k, replace=False):
                copy[pos] = prof.tokens(rng, 1)[0]
            members.append((f, copy))
    while len(members) < n:
        members.append((-1, prof.tokens(rng, lens.pop())))
    order = rng.permutation(len(members))
    members = [members[i] for i in order]
    # doc_id is the position, so the eval set (sentence 0 of every
    # EVAL_MOD-th doc) is known now
    eval_sents = [members[i][1][:SENT_WINDOW] for i in range(0, n, EVAL_MOD)]
    targets = [i for i, (f, toks) in enumerate(members)
               if f < 0 and i % EVAL_MOD != 0 and len(toks) >= 2 * SENT_WINDOW]
    contaminated = sorted(int(i) for i in rng.choice(
        targets, size=min(len(targets), int(n * CONTAM_SHARE)), replace=False))
    for i in contaminated:
        f, toks = members[i]
        sent = eval_sents[int(rng.integers(0, len(eval_sents)))]
        at = int(rng.integers(0, len(toks) - len(sent) + 1))
        members[i] = (f, toks[:at] + sent + toks[at + len(sent):])
    families = {}
    for i, (f, _) in enumerate(members):
        if f >= 0:
            families.setdefault(f, []).append(i)
    docs = finish(rng, prof, [toks for _, toks in members])
    truth = {"families": sorted(families.values()), "contaminated": contaminated}
    props = {
        "neardup_share": round(sum(len(v) for v in families.values()) / n, 6),
        "neardup_families": len(families),
        "copies_by_edits": {str(k): v for k, v in edits_hist.items()},
        "contaminated_share": round(len(contaminated) / n, 6),
    }
    return docs, props, truth


# Medline update cycle (abstracts). The slices follow the convention of
# graft's doc_upsert_delete query, so its oracle checks the upserted store:
# a citation whose update hash is below CHANGED_BELOW is in this cycle's
# update files with its year advanced by one, a citation whose hash is at
# least DELETED_FROM is listed in a DeleteCitation block, and file f holds
# the citations whose doc_id is f mod UPDATE_FILES. Of the changed citations,
# a seeded NEW_SHARE is absent from the baseline store (new), the rest are in
# it (revised). Title = token window 0, abstract sections = windows 1 and 2,
# and citations whose doc_id is a multiple of 7 carry no year (the ingest
# then reads DEFAULT_YEAR).
CHANGED_BELOW = 100
DELETED_FROM = 900
UPDATE_FILES = 10
NEW_SHARE = 0.5
DEFAULT_YEAR = "2155"


def update_hash(doc_id):
    return (doc_id % 1000) * (2654435761 % 1000) % 1000


def citation(toks):
    """(title, abstract sections) of a document under the Medline ingest."""
    wins = [" ".join(toks[i:i + SENT_WINDOW]) for i in range(0, min(len(toks), 3 * SENT_WINDOW),
                                                            SENT_WINDOW)]
    return wins[0], wins[1:]


def store_row(doc_id, toks):
    title, sections = citation(toks)
    abstract = "\n".join(sections)
    year = DEFAULT_YEAR if doc_id % 7 == 0 else str(doc_id % 30 + 1990)
    return {"doc_id": doc_id, "pmid": f"PMID:{doc_id}", "year": year, "title": title,
            "abstract": abstract,
            "doc_text": title if not abstract else f"{title}\n\n{abstract}"}


def article_xml(doc_id, toks):
    title, sections = citation(toks)
    year = "" if doc_id % 7 == 0 else f"<Year>{doc_id % 30 + 1991}</Year>"
    labels = ("BACKGROUND", "METHODS")
    abstract = "".join(f'<AbstractText Label="{l}">{s}</AbstractText>'
                       for l, s in zip(labels, sections))
    return ("<PubmedArticle><MedlineCitation>"
            f"<PMID>{doc_id}</PMID><Article><Journal><JournalIssue><PubDate>{year}</PubDate>"
            f"</JournalIssue></Journal><ArticleTitle>{title}</ArticleTitle>"
            + (f"<Abstract>{abstract}</Abstract>" if abstract else "")
            + "</Article></MedlineCitation></PubmedArticle>")


def update_cycle(rng, docs):
    """(baseline store rows, update files, update-file mix)."""
    changed = [i for i in range(len(docs)) if update_hash(i) < CHANGED_BELOW]
    deleted = [i for i in range(len(docs)) if update_hash(i) >= DELETED_FROM]
    new = set(rng.choice(changed, size=round(len(changed) * NEW_SHARE), replace=False).tolist())
    store = [store_row(i, toks) for i, (toks, _, _) in enumerate(docs) if i not in new]
    files = []
    for f in range(UPDATE_FILES):
        arts = "".join(article_xml(i, docs[i][0]) for i in changed if i % UPDATE_FILES == f)
        dels = "".join(f"<PMID>{i}</PMID>" for i in deleted if i % UPDATE_FILES == f)
        files.append((f, "<PubmedArticleSet>" + arts
                      + (f"<DeleteCitation>{dels}</DeleteCitation>" if dels else "")
                      + "</PubmedArticleSet>"))
    mix = {"store_docs": len(store), "new": len(new), "revised": len(changed) - len(new),
           "deleted": len(deleted), "files": UPDATE_FILES}
    return store, files, mix


def quantiles(xs):
    xs = np.array(xs)
    return {f"p{int(q * 100)}": int(np.quantile(xs, q, method="nearest"))
            for q in (0.0, 0.1, 0.5, 0.9, 1.0)}


def write(out_dir, docs, props, truth, updates=None):
    os.makedirs(out_dir, exist_ok=True)
    texts = [" ".join(t) for t, _, _ in docs]
    table = pa.table({
        "doc_id": pa.array(range(len(docs)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([l for _, l, _ in docs], pa.string()),
        "source": pa.array([s for _, _, s in docs], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    docs_dir = os.path.join(out_dir, "documents.parquet")
    os.makedirs(docs_dir)
    bounds = np.linspace(0, len(docs), INPUT_FILES + 1).round().astype(int)
    for i in range(INPUT_FILES):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(docs_dir, f"part-{i:05d}.parquet"))
    if updates:
        store, files, mix = updates
        pq.write_table(pa.Table.from_pylist(store, schema=pa.schema([
            ("doc_id", pa.int64()), ("pmid", pa.string()), ("year", pa.string()),
            ("title", pa.string()), ("abstract", pa.string()), ("doc_text", pa.string())])),
            os.path.join(out_dir, "store.parquet"))
        pq.write_table(pa.table({"file_id": pa.array([f for f, _ in files], pa.int64()),
                                 "xml": pa.array([x for _, x in files], pa.string())}),
                       os.path.join(out_dir, "updates.parquet"))
        props = dict(props, update_mix=mix)
    props = dict(props)
    props["n_docs"] = len(docs)
    props["n_tokens"] = int(sum(len(t) for t, _, _ in docs))
    props["text_bytes"] = int(sum(len(t.encode()) for t in texts))
    props["token_quantiles"] = quantiles([len(t) for t, _, _ in docs])
    props["marker_share"] = round(sum(t[-1] == "dup" for t, _, _ in docs) / len(docs), 6)
    with open(os.path.join(out_dir, "properties.json"), "w") as f:
        json.dump(props, f, indent=1, sort_keys=True)
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f)
    return props


def generate(workload, seed, out_dir):
    if workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {workload!r}; expected one of {WORKLOADS}")
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    prof = Profile(os.path.join(HERE, "profile.json"))
    if workload == "curation":
        docs, props, truth = gen_curation(rng, prof)
    else:
        docs, props = (gen_abstracts if workload == "abstracts" else gen_fulltext)(rng, prof)
        truth = {}
    updates = update_cycle(rng, docs) if workload == "abstracts" else None
    props["workload"] = workload
    props["seed"] = seed
    return write(out_dir, docs, props, truth, updates)


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]), sort_keys=True))

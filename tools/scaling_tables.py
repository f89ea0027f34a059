#!/usr/bin/env python3
"""Regenerate SCALING.md's measured tables from a ScaleProbe log.

Usage: python3 tools/scaling_tables.py /tmp/scaleprobe_rN.log

Parses the one-JSON-line-per-(query, factor) output of
`sbt "runMain graft.ScaleProbe 1,4,10"` and prints the three markdown
tables in SCALING.md's layout, so a re-measure session updates the doc
mechanically instead of by hand-transcription (which is how digits get
dropped). Output notes (linear / bounded / see-note) are part of each
operator's scaling CONTRACT, so they live here, not in the log.
"""
import json
import re
import sys

DOCS = [
    ("x1_dedup_exact", "x1 exact dedup"),
    ("x9_token_counts", "x9 token counts"),
    ("x2_minhash_lsh_pairs", "x2 MinHash+LSH pairs"),
    ("x3_simhash", "x3 SimHash"),
    ("x23_pack_sequences", "x23 sequence packing"),
    ("x16_dedup_clusters", "x16 CC clustering"),
    ("x4_jaccard_pairs", "x4 exact Jaccard join"),
    ("x35_chunk_sliding", "x35 sliding chunking"),
    ("x37_bigram_counts", "x37 bigram counts"),
]
LLM = [
    ("x31_quantize_int8", "x31 int8 quantization (embeddings)", "(linear)"),
    ("x32_lsh_dedup_scaled", "x32 LSH embedding dedup (probe form, see below)", "(see note)"),
    ("x33_bm25_topk", "x33 BM25 top-5 / query", "(bounded)"),
    ("x34_rrf_fusion", "x34 RRF fusion top-5 / query", "(bounded)"),
    ("x36_vocab_build", "x36 vocab build (top-20)", "(bounded)"),
    ("x38_oov_rate", "x38 OOV rate per doc", "(linear)"),
    ("x39_domain_mix", "x39 domain-mixture rebalance", "(quota-bounded)"),
    ("x40_bigram_lm_score", "x40 bigram-LM quality score", "(linear)"),
    ("x41_semdedup_scaled", "x41 SemDeDup (probe form, see below)", "(linear: one row/vector)"),
    ("x42_repeated_spans", "x42 repeated-span coverage (window form)", "(linear)"),
    ("x43_block_dedup_rewrite", "x43 block-dedup rewrite (window form)", "(linear: one row/doc)"),
    ("x44_lang_temp_resample", "x44 temperature lang resample", "(linear)"),
    ("x45_bpe_merges", "x45 BPE merge learning", "(bounded: the merge table)"),
    ("x45b_bpe_encode", "x45b BPE encode + fertility", "(linear)"),
    ("x46_pii_redact", "x46 PII redaction", "(linear)"),
    ("x47_embedding_outliers", "x47 embedding outlier QA", "(linear)"),
    ("x48_near_dup_survivors", "x48 near-dup survivor decision", "(linear: one row/doc)"),
    ("x49_dedup_pipeline", "x49 composed dedup DAG (measure→cluster→remove)", "(linear: one row/doc)"),
    ("x50_pq_ann_topk", "x50 PQ ANN (ADC shortlist + exact refine)", "(bounded: top-k)"),
]
REL = [
    ("x15_asof_join", "x15 as-of join (events)", "(linear)"),
    ("w5_trailing_30d_spend", "w5 trailing-30d RANGE window (orders)", "(linear)"),
    ("t6_topk_per_key", "t6 top-k per key (custom plan, orders)", "(constant: bounded heaps)"),
    ("j2_orders_lineitem_join", "j2 orders⋈lineitem rollup", "(constant: status rollup)"),
]


def load(path):
    out = {}
    rx = re.compile(r'\{"probe":"scale".*\}')
    for line in open(path):
        m = rx.search(line)
        if m:
            d = json.loads(m.group(0))
            out[(d["query"], d["factor"])] = (d["sec"], d["rows"])
    return out


def ratio(lo, hi):
    r = hi / lo
    if r <= 1.05:
        return f"**{r:.1f}× (flat)**"
    return f"**{r:.1f}×**"


def row(data, q, label, note=None):
    cells = [data.get((q, f)) for f in (1, 4, 10)]
    if any(c is None for c in cells):
        return f"| {label} | MISSING | | | | |"
    secs = [c[0] for c in cells]
    rows1, rows10 = cells[0][1], cells[2][1]
    rows = f"{rows1:,} → {rows10:,}" + (f" {note}" if note else "")
    return ("| %s | %.2f | %.2f | %.2f | %s | %s |"
            % (label, secs[0], secs[1], secs[2], ratio(secs[0], secs[2]), rows))


def main():
    data = load(sys.argv[1])
    print("Documents operators:\n")
    print("| query | 1× (5k docs) | 4× (20k) | 10× (50k) | wall ratio 10×/1× | output rows 1×→10× |")
    print("| --- | --- | --- | --- | --- | --- |")
    for q, label in DOCS:
        note = "(top-k)" if q == "x37_bigram_counts" else None
        print(row(data, q, label, note))
    print("\nLLM-pipeline operators:\n")
    print("| query | 1× | 4× | 10× | wall ratio 10×/1× | output rows 1×→10× |")
    print("| --- | --- | --- | --- | --- | --- |")
    for q, label, note in LLM:
        print(row(data, q, label, note))
    print("\nShuffle-shaped relational operators:\n")
    print("| query | 1× | 4× | 10× | wall ratio 10×/1× | output rows 1×→10× |")
    print("| --- | --- | --- | --- | --- | --- |")
    for q, label, note in REL:
        print(row(data, q, label, note))


if __name__ == "__main__":
    main()

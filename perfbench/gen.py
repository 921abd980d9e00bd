"""Seeded input generators for the benchmark.

Run as its own process before the engine's JVM starts, so no metric includes
generation. The same seed always yields the same bytes.

  python3 perfbench/gen.py corpus <out_dir> --seed N
  python3 perfbench/gen.py documents <out_dir> --seed N

corpus     CORPUS_FILES plain-text files, CORPUS_MB together, drawn from the
           reference corpus's own vocabulary and word frequencies (the golden
           word-count output), decorated with the byte classes the
           reference's normalizer strips, plus the exact expected word-count
           output computed from the generator's own tally.
documents  the documents table in a seed-derived row order, and the same rows
           split into STREAM_FILES small files for a file stream.
"""
import argparse
import json
import os
import re

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GOLDEN = os.path.join(ROOT, "src", "test", "resources", "golden", "golden_corpus.txt")
BASE_DOCS = os.path.join(HERE, "data", "documents.parquet")
CORPUS_MB = 24
CORPUS_FILES = 16
STREAM_FILES = 32

# C-locale ispunct: the bytes the reference's process_word strips from token
# edges, together with every byte >= 0x80.
PUNCT = bytes(b for b in range(0x21, 0x7F) if not chr(b).isalnum())
STRIP = set(PUNCT) | set(range(0x80, 0x100))


def normalize(tok: bytes) -> bytes:
    """The reference's process_word: strip edge punctuation and non-ASCII
    bytes, then lowercase ASCII A-Z only."""
    i, j = 0, len(tok)
    while i < j and tok[i] in STRIP:
        i += 1
    while j > i and tok[j - 1] in STRIP:
        j -= 1
    return tok[i:j].lower()  # bytes.lower() touches ASCII A-Z only


def golden_vocab():
    """(words, counts) from the reference corpus's word-count output."""
    words, counts = [], []
    line_re = re.compile(rb"^\[\d+\] (.*): (\d+)$")
    with open(GOLDEN, "rb") as f:
        for line in f.read().split(b"\n"):
            m = line_re.match(line)
            if m:
                words.append(m.group(1))
                counts.append(int(m.group(2)))
    if not words:
        raise SystemExit(f"gen: no vocabulary parsed from {GOLDEN}")
    return words, np.asarray(counts, dtype=np.float64)


# Edge decorations: each one leaves the word's normalized form unchanged
# except where a strip run meets non-ASCII bytes inside the word, which the
# tally handles by normalizing every surface form it emits.
EDGE_PRE = [b"", b"\"", b"(", b"'", b"--", b"\xef\xbb\xbf", b"\xe2\x80\x9c", b"\xc2\xbf", b"_*"]
EDGE_POST = [b"", b",", b".", b"!", b"?\"", b";", b"'", b"\xe2\x80\x9d", b"...", b"\xc3"]
JUNK = [b"--", b"***", b"\xef\xbb\xbf", b"\xe2\x80\x94", b"...", b"(", b"#", b"\xc2\xa0", b"&", b"\"'"]
# separators: the whole istream>> whitespace set " \t\n\v\f\r"
SEPARATORS = [b" "] * 24 + [b"  ", b"\t", b" \t", b"\x0b", b"\x0c", b"\r\n", b"\n"]
DECOS = 8       # surface variants drawn per vocabulary word
JUNK_P = 0.01   # share of tokens that normalize to nothing
LINE_TOKENS = 12


def surface_table(words, rng):
    """DECOS surface forms per word: verbatim, ASCII case changes, edge
    punctuation and edge non-ASCII bytes, in seed-chosen combinations."""
    n = len(words) * DECOS
    modes = rng.integers(3, size=n).tolist()
    masks = rng.integers(1 << 16, size=n).tolist()
    pres = rng.integers(len(EDGE_PRE), size=n).tolist()
    posts = rng.integers(len(EDGE_POST), size=n).tolist()
    table = []
    for k in range(n):
        s = words[k // DECOS]
        d = k % DECOS
        if d >= 1:
            if modes[k] == 0:
                s = s.upper()
            elif modes[k] == 1:
                s = s[:1].upper() + s[1:]
            else:
                m = masks[k]
                s = bytes(c - 32 if 97 <= c <= 122 and (m >> (i & 15)) & 1 else c
                          for i, c in enumerate(s))
        if d >= 3:
            s = EDGE_PRE[pres[k]] + s
        if d >= 2:
            s = s + EDGE_POST[posts[k]]
        table.append(s)
    return table


def gen_corpus(out, seed):
    rng = np.random.default_rng(seed)
    words, counts = golden_vocab()
    surfaces = surface_table(words, rng) + JUNK
    nsurf = len(surfaces)
    njunk0 = len(words) * DECOS
    norm = [normalize(s) for s in surfaces]
    # decoration class probabilities: mostly verbatim, as in real prose
    deco_p = np.array([0.55, 0.12, 0.12, 0.06, 0.05, 0.04, 0.03, 0.03])
    word_p = counts / counts.sum()
    mean_tok = float(np.dot(word_p, [len(w) for w in words])) + 2.2
    total_tokens = int(CORPUS_MB * 1e6 / mean_tok)
    # mixed file sizes, the same for every seed: a few large books and a
    # tail of small texts, each file 0.8x the size of the one before
    shares = 0.8 ** np.arange(CORPUS_FILES)
    shares /= shares.sum()
    tally = np.zeros(nsurf, dtype=np.int64)
    sep_arr = np.array(SEPARATORS, dtype=object)
    surf_arr = np.array(surfaces, dtype=object)
    os.makedirs(out, exist_ok=True)
    paths = []
    for i in range(CORPUS_FILES):
        n = max(LINE_TOKENS, int(total_tokens * shares[i]))
        wid = rng.choice(len(words), size=n, p=word_p)
        did = rng.choice(DECOS, size=n, p=deco_p)
        sid = wid * DECOS + did
        junk = rng.random(n) < JUNK_P
        sid[junk] = njunk0 + rng.integers(len(JUNK), size=int(junk.sum()))
        tally += np.bincount(sid, minlength=nsurf)
        seps = sep_arr[rng.integers(len(SEPARATORS), size=n)]
        seps[LINE_TOKENS - 1::LINE_TOKENS] = b"\n"
        parts = np.empty(2 * n, dtype=object)
        parts[0::2] = surf_arr[sid]
        parts[1::2] = seps
        body = b"".join(parts.tolist())
        if i == 0:
            body = b"\xef\xbb\xbf" + body  # BOM on the first token, as in the reference corpus
        p = os.path.abspath(os.path.join(out, f"text{i:02d}.txt"))
        with open(p, "wb") as f:
            f.write(body)
        paths.append(p)
    per_word = {}
    for s, c in zip(norm, tally.tolist()):
        if c and s:
            per_word[s] = per_word.get(s, 0) + c
    ranked = sorted(per_word.items())  # bytes sort = unsigned byte order
    total = sum(per_word.values())
    lines = [f"Filename: {paths[0]}, total words: {total}\n".encode(),
             f"Unique words found: {len(ranked)}\n".encode()]
    lines += [b"[%d] %s: %d\n" % (i, w, c) for i, (w, c) in enumerate(ranked)]
    with open(os.path.join(out, "expected.txt"), "wb") as f:
        f.write(b"".join(lines))
    nbytes = sum(os.path.getsize(p) for p in paths)
    return {"files": len(paths), "bytes": nbytes, "total_words": total, "unique_words": len(ranked)}


def gen_documents(out, seed):
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed + 7919)
    base = pq.read_table(BASE_DOCS)
    table = base.take(pa.array(rng.permutation(base.num_rows)))
    os.makedirs(out, exist_ok=True)
    docs = os.path.join(out, "documents.parquet")
    pq.write_table(table, docs, row_group_size=table.num_rows)
    sdir = os.path.join(out, "stream_src")
    os.makedirs(sdir)
    nbytes = 0
    for i, idx in enumerate(np.array_split(np.arange(table.num_rows), STREAM_FILES)):
        p = os.path.join(sdir, f"part-{i:05d}.parquet")
        pq.write_table(table.take(pa.array(idx)), p)
        # strictly increasing mtimes fix the file source's arrival order
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
        nbytes += os.path.getsize(p)
    return {"rows": table.num_rows, "bytes": os.path.getsize(docs),
            "stream_files": STREAM_FILES, "stream_bytes": nbytes}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("kind", choices=["corpus", "documents"])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    meta = (gen_corpus if a.kind == "corpus" else gen_documents)(a.out, a.seed)
    print(json.dumps(meta))


if __name__ == "__main__":
    main()

"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes. The generators also return the ground truth the output checks
compare against (planted duplicate clusters, junk documents, clip layout).
"""
import json
import os
import wave

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- audio

AUDIO = {
    "fs": 16000,          # Hz
    "files_per_subdb": 8, # normal/ and abnormal/
    "clip_s": 12,         # seconds per file
    "split_s": 4,         # add_split window, seconds
}


def gen_audio(root, seed):
    """Writes <root>/{abnormal,normal}/NNN.wav, mono PCM16 at AUDIO["fs"].

    Normal clips are a hum plus noise; abnormal clips add a drifting tone
    and clicks, so the two classes differ in the mel features.
    """
    rng = np.random.default_rng(seed % 2 ** 64)
    fs, n = AUDIO["fs"], AUDIO["fs"] * AUDIO["clip_s"]
    t = np.arange(n) / fs
    files = []
    for subdb in ("abnormal", "normal"):  # sorted path order
        os.makedirs(os.path.join(root, subdb), exist_ok=True)
        for k in range(AUDIO["files_per_subdb"]):
            f0 = rng.uniform(80, 400)
            x = 0.2 * np.sin(2 * np.pi * f0 * t) + rng.normal(0, 0.05, n)
            if subdb == "abnormal":
                f1 = rng.uniform(1000, 3000)
                x += 0.1 * np.sin(2 * np.pi * (f1 + 200 * t / AUDIO["clip_s"]) * t)
                clicks = rng.integers(0, n, 40)
                x[clicks] += rng.uniform(-0.6, 0.6, clicks.size)
            pcm = np.clip(np.round(x * 32767), -32768, 32767).astype("<i2")
            path = os.path.join(root, subdb, f"{k:03d}.wav")
            with wave.open(path, "wb") as w:
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(fs)
                w.writeframes(pcm.tobytes())
            files.append(path)
    return {"files": files, **AUDIO,
            "chunks_per_file": AUDIO["clip_s"] // AUDIO["split_s"]}


def read_pcm16(path):
    with wave.open(path, "rb") as w:
        return np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")


# ---------------------------------------------------------------- corpus

CORPUS = {
    "base_docs": 3000,
    "exact_clusters": 200,   # base docs that get identical copies
    "near_clusters": 200,     # base docs that get edited variants
    "extra_members": 2,      # copies or variants per planted cluster
    "junk_docs": 180,        # docs every quality gate must drop
    "vocab": 4000,
    "near_jaccard_max": 0.97, # base-to-variant 5-shingle Jaccard, at most
    "shingle_k": 5,
    "threshold": 0.8,        # near-dup Jaccard threshold of the pipeline
}

GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def shingles(text, k=CORPUS["shingle_k"]):
    """5-char shingle set, as Dedup.shingles builds it."""
    t = text.lower()
    return {t[i:i + k] for i in range(max(1, len(t) - (k - 1)))}


def jaccard(a, b):
    return len(a & b) / len(a | b)


def _vocab(rng, size):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set(GOPHER_STOPS)
    out = list(GOPHER_STOPS)
    while len(out) < size:
        w = "".join(rng.choice(letters, rng.integers(3, 9)))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def gen_corpus(root, seed):
    """Writes <root>/docs.parquet (doc_id, text, source, n_chars) with
    planted exact-duplicate clusters, near-duplicate clusters at
    5-shingle Jaccard ~0.95 to their base, and junk documents."""
    c = CORPUS
    rng = np.random.default_rng(seed % 2 ** 64)
    vocab = _vocab(rng, c["vocab"])
    ranks = np.arange(1, len(vocab) + 1)
    p = 1.0 / ranks ** 1.1
    p /= p.sum()

    def doc(n_words):
        return " ".join(vocab[i] for i in rng.choice(len(vocab), n_words, p=p))

    texts = [doc(int(rng.integers(60, 160))) for _ in range(c["base_docs"])]
    kind = ["base"] * len(texts)
    picks = rng.permutation(c["base_docs"])
    exact_bases = picks[:c["exact_clusters"]]
    near_bases = picks[c["exact_clusters"]:c["exact_clusters"] + c["near_clusters"]]
    exact_groups, near_groups, near_j = [], [], []
    for b in exact_bases:
        g = [int(b)]
        for _ in range(c["extra_members"]):
            g.append(len(texts))
            texts.append(texts[b])
            kind.append("exact")
        exact_groups.append(g)
    for b in near_bases:
        base_words = texts[b].split(" ")
        base_sh = shingles(texts[b])
        g = [int(b)]
        for _ in range(c["extra_members"]):
            # edit one word at a time until the variant's Jaccard to its
            # base drops to the planted level
            words = list(base_words)
            j = 1.0
            while j > c["near_jaccard_max"]:
                words[int(rng.integers(len(words)))] = vocab[int(rng.integers(len(vocab)))]
                j = jaccard(base_sh, shingles(" ".join(words)))
            g.append(len(texts))
            texts.append(" ".join(words))
            kind.append("near")
            near_j.append(j)
        near_groups.append(g)
    for i in range(c["junk_docs"]):
        style = i % 3
        if style == 0:    # too short for every quality gate
            texts.append(doc(int(rng.integers(8, 30))))
        elif style == 1:  # hash-symbol spam
            ws = doc(80).split(" ")
            texts.append(" ".join(w if k % 3 else "#" + w for k, w in enumerate(ws)))
        else:             # mostly numbers
            ws = [str(int(v)) for v in rng.integers(0, 10 ** 6, 80)]
            ws[::7] = ["the"] * len(ws[::7])
            texts.append(" ".join(ws))
        kind.append("junk")
    # ids are a seeded permutation, so which member of a cluster has the
    # smallest id (the survivor) is not a property of the generator
    ids = rng.permutation(len(texts)).astype(np.int64)
    order = np.argsort(ids)
    table = pa.table({
        "doc_id": pa.array(ids[order], pa.int64()),
        "text": pa.array([texts[i] for i in order], pa.string()),
        "source": pa.array([f"src{int(ids[i]) % 20}" for i in order], pa.string()),
        "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
    })
    os.makedirs(root, exist_ok=True)
    pq.write_table(table, os.path.join(root, "docs.parquet"))
    to_id = lambda g: sorted(int(ids[i]) for i in g)
    truth = {
        "n_docs": len(texts),
        "junk": sorted(int(ids[i]) for i, k in enumerate(kind) if k == "junk"),
        "exact_groups": [to_id(g) for g in exact_groups],
        "near_groups": [to_id(g) for g in near_groups],
        "near_jaccard_min": min(near_j),
        "near_jaccard_median": float(np.median(near_j)),
        "threshold": c["threshold"],
        "shingle_k": c["shingle_k"],
        "input_bytes": os.path.getsize(os.path.join(root, "docs.parquet")),
    }
    with open(os.path.join(root, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth

"""Output checks, run after the JVM exits, outside the timed region.

Each check returns {"name", "ok", "detail"}; a failed check counts as a
failed operation. The references here are independent of the engine: a
direct DFT and a mel filterbank built in numpy, brute-force Jaccard over the
generator's planted clusters, and the DuckDB oracle SQL of each query.
"""
import glob
import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen


def run(workload, truth, inp, out, cache):
    fn = {"audio_features": audio, "corpus_curation": corpus,
          "iterative_queries": queries}[workload]
    results = []

    def check(name, ok, detail=""):
        results.append({"name": name, "ok": bool(ok), "detail": str(detail)})

    try:
        fn(truth, inp, out, check, cache)
    except Exception as e:  # a crashed check is a failed check
        check("checks-completed", False, f"{type(e).__name__}: {e}")
    return results


def read_dir(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)


# ---------------------------------------------------------------- audio

def mel_filterbank(n_bands, nfft, fs):
    """Triangular mel filterbank, n_bands x (nfft/2+1), after the
    reference's Filterbank processor (band edges on the mel scale, rounded
    to FFT bins, rising then falling slopes)."""
    hz_to_mel = lambda f: 2595.0 * np.log10(1 + f / 700.0)
    mel_to_hz = lambda m: 700.0 * (10 ** (m / 2595.0) - 1)
    lo, hi = hz_to_mel(0.0), hz_to_mel(fs / 2)
    pts = mel_to_hz(lo + np.arange(n_bands + 2) / (n_bands + 1) * (hi - lo))
    start = np.round(nfft / fs * pts[:n_bands])
    stop = np.round(nfft / fs * pts[2:])
    middle = np.append(start[1:], stop[n_bands - 2])
    fb = np.zeros((n_bands, nfft // 2 + 1))
    for m in range(n_bands):
        low = middle[m] - start[m] + 1
        high = (stop[m] - start[m] + 1) - low + 1
        for k in range(int(low)):
            b = int(start[m] + k)
            if 0 <= b <= nfft // 2:
                fb[m, b] = (k + 1) / low
        for k in range(int(high)):
            b = int(middle[m] + k)
            if 0 <= b <= nfft // 2:
                fb[m, b] = (high - k) / high
    return fb


def features_direct(x, fs):
    """Framing 32 ms / 16 ms hamming -> power spectrum by direct DFT ->
    40 mel bands -> 20 log10 -> mean and std over frames."""
    flen, step, nfft = round(0.032 * fs), round(0.016 * fs), 512
    n = (len(x) - flen) // step + 1
    win = 0.54 - 0.46 * np.cos(2 * np.pi * np.arange(flen) / flen)
    frames = np.stack([x[i * step:i * step + flen] * win for i in range(n)])
    k = np.arange(nfft // 2 + 1)
    ang = 2 * np.pi * np.outer(np.arange(flen), k) / nfft
    power = (frames @ np.cos(ang)) ** 2 + (frames @ np.sin(ang)) ** 2
    bands = power @ mel_filterbank(40, nfft, fs).T
    bands[bands == 0.0] = np.finfo(float).tiny
    db = 20 * np.log10(bands)
    return np.concatenate([db.mean(axis=0), db.std(axis=0)])


def audio(truth, inp, out, check, cache):
    fs, split_s, chunks = truth["fs"], truth["split_s"], truth["chunks_per_file"]
    files = truth["files"]
    rows = len(files) * chunks
    feat = read_dir(os.path.join(out, "feat")).sort_values("_idx").reset_index(drop=True)
    check("row-count", len(feat) == rows and list(feat["_idx"]) == list(range(rows)),
          f"{len(feat)} feature rows, expected files x splits = {len(files)} x {chunks}")

    first = np.fromfile(os.path.join(out, "first_chunk.f64"), dtype="<f8")
    want = gen.read_pcm16(files[0])[:fs * split_s] / 32768.0
    name = open(os.path.join(out, "first_chunk.txt")).read()
    check("first-chunk", name == "abnormal/000.wav" and first.shape == want.shape
          and np.array_equal(first, want),
          f"{name}: {first.size} samples vs the first fs*s = {want.size} of the clip")

    # the fitted normalizer is one affine map shared by every row and every
    # dimension; recover it from two rows and require an exact fit
    picks = [0, rows - 1]
    direct = []
    for i in picks:
        pcm = gen.read_pcm16(files[i // chunks]) / 32768.0
        n = fs * split_s
        direct.append(features_direct(pcm[(i % chunks) * n:(i % chunks + 1) * n], fs))
    x = np.concatenate(direct)
    y = np.concatenate([np.asarray(feat["feat"][i], dtype=float) for i in picks])
    a, b = np.polyfit(y, x, 1)
    resid = np.max(np.abs(a * y + b - x)) / np.ptp(x)
    check("feature-dsp", y.size == 160 and a > 0 and resid < 1e-6,
          f"rows {picks} vs direct DFT + mel + log + mean/std: max residual "
          f"{resid:.2e} of range after one affine normalizer map")
    allv = np.concatenate([np.asarray(v, dtype=float) for v in feat["feat"]])
    check("normalizer", abs(allv.mean()) < 1e-6 and abs(allv.std() - 1) < 1e-6,
          f"all feature values: mean {allv.mean():.2e}, std {allv.std():.8f}")

    folds = read_dir(os.path.join(out, "folds"))
    ok = (len(folds) == rows and sorted(folds["_idx"]) == list(range(rows))
          and folds["fold"].between(0, 3).all())
    by_file = folds.assign(f=folds["_idx"] // chunks).groupby("f")["fold"].nunique()
    check("folds", ok and (by_file == 1).all(),
          f"{len(folds)} rows in {folds['fold'].nunique()} folds, disjoint, covering every row; "
          f"{int((by_file > 1).sum())} clips straddle folds")


# ---------------------------------------------------------------- corpus

def corpus(truth, inp, out, check, cache):
    docs = pq.read_table(os.path.join(inp, "docs.parquet")).to_pandas()
    text = dict(zip(docs["doc_id"], docs["text"]))
    ids = lambda name: set(read_dir(os.path.join(out, name))["doc_id"])
    gated, exact, kept = ids("gated"), ids("exact_kept"), ids("near_kept")
    junk = set(truth["junk"])
    check("gates", gated == set(text) - junk,
          f"{len(gated)} kept of {len(text)}; {len(junk & gated)} junk kept, "
          f"{len(set(text) - junk - gated)} clean dropped")

    survivors = [len(set(g) & exact) for g in truth["exact_groups"]]
    check("exact-dedup", all(s == 1 for s in survivors),
          f"{len(survivors)} planted exact clusters, {sum(s > 1 for s in survivors)} "
          f"with a surviving duplicate, {sum(s == 0 for s in survivors)} emptied")

    t = truth["threshold"]
    group_of = {d: g for g in truth["near_groups"] for d in g}
    removed = exact - kept
    bad = []
    for d in sorted(removed):
        twins = [o for o in group_of.get(d, []) if o in kept]
        sh = gen.shingles(text[d])
        if not any(gen.jaccard(sh, gen.shingles(text[o])) >= t for o in twins):
            bad.append(d)
    emptied = sum(1 for g in truth["near_groups"] if not set(g) & kept)
    # recall: a planted variant sits at Jaccard >= near_jaccard_min to its
    # base, well above the threshold, where the LSH banding finds a pair
    # with probability >= 0.99; so all but a few of the planted extra
    # members must be gone
    planted = sum(len(g) - 1 for g in truth["near_groups"])
    found = sum(len(set(g) - kept) for g in truth["near_groups"])
    check("near-dedup", not bad and emptied == 0 and found >= 0.95 * planted,
          f"{len(removed)} removed; {found} of {planted} planted near-duplicates removed "
          f"(at least 95% required); {len(bad)} without a kept twin at Jaccard >= {t} "
          f"in their planted cluster; {emptied} clusters emptied")

    o = json.load(open(os.path.join(out, "outputs.json")))
    check("leakage-audit", o["leak_rows"]["exact"] == 0 and o["leak_rows"]["near"] == 0,
          f"leaking fold pairs: exact {o['leak_rows']['exact']}, near-dup {o['leak_rows']['near']}")
    folds = read_dir(os.path.join(out, "folds"))
    check("manifest", o["manifest_rows"] == len(kept) and set(folds["doc_id"]) == kept,
          f"manifest rows {o['manifest_rows']} over {o['shards']} shards, kept docs {len(kept)}")


# ---------------------------------------------------------------- queries

def type_class(series):
    """The type as a result hash renders it: ints of any width alike, a
    float is not an int, objects by their first non-null value's type."""
    k = series.dtype.kind
    if k in "iu":
        return "int"
    if k == "O":
        x = next((v for v in series.values if v is not None and not (np.isscalar(v) and pd.isna(v))), None)
        return "null" if x is None else f"obj:{type(x).__name__}"
    return {"f": "float", "b": "bool", "M": "ts"}.get(k, str(series.dtype))


def frames_equal(a, b):
    if a.shape != b.shape:
        return f"shape {a.shape} vs {b.shape}"
    for c in a.columns:
        ta, tb = type_class(a[c]), type_class(b[c])
        if ta != tb and "null" not in (ta, tb):
            return f"col {c} type {ta} vs {tb}"
        for i, (x, y) in enumerate(zip(a[c].values, b[c].values)):
            if isinstance(x, (list, np.ndarray)) or isinstance(y, (list, np.ndarray)):
                xa, ya = np.asarray(x, dtype=float), np.asarray(y, dtype=float)
                if xa.shape != ya.shape or not np.array_equal(xa, ya):
                    return f"col {c} row {i}: {x} vs {y}"
            elif not (pd.isna(x) and pd.isna(y)) and x != y:
                return f"col {c} row {i}: {x!r} vs {y!r}"
    return None


def queries(truth, inp, out, check, cache):
    """Each query's result against its DuckDB oracle SQL over the same
    tables. The tables are fixed, so an oracle's answer is computed once
    and kept under `cache`, keyed by the SQL text and the tables' digest."""
    import duckdb
    con = None
    tables = truth["tables_dir"]
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    canon = lambda df: df[sorted(df.columns)].reset_index(drop=True)
    os.makedirs(cache, exist_ok=True)
    for q in sorted(oracle):
        res = os.path.join(out, "results", q)
        if not os.path.isdir(res):
            check(q, False, "no result (the query failed)")
            continue
        key = hashlib.sha256((truth["digest"] + oracle[q]).encode()).hexdigest()[:24]
        hit = os.path.join(cache, f"{q}-{key}.pkl")
        if os.path.exists(hit):
            duck = pd.read_pickle(hit)
        else:
            if con is None:
                con = duckdb.connect()
                for f in sorted(os.listdir(tables)):
                    if f.endswith(".parquet"):
                        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                                    f"read_parquet('{os.path.join(tables, f)}')")
            duck = canon(con.execute(oracle[q]).df())
            duck.to_pickle(hit)
        why = frames_equal(canon(read_dir(res)), duck)
        check(q, why is None, why or f"{len(duck)} rows equal to the DuckDB oracle")

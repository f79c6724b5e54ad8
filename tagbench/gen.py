"""Seeded input generators for the benchmark (numpy + pyarrow only).

Every generator is a pure function of its seed: the same seed writes the
same bytes. The photo tree itself is written by the JVM generator
(`tagbench.GenPhotos`), because JPEG encoding needs ImageIO; this module
writes the tag vocabulary both tag workloads load through
`Vocab.fromJson` and the stored logits of `retag_logits`.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 1024
LOGIT_ROWS = 20000
LOGIT_FILES = 8

# Reference category layout: the two argmax lanes first, then the six
# threshold lanes with a general-heavy mix like a real tagger mapping.
ARGMAX_TAGS = [("general", "rating"), ("sensitive", "rating"),
               ("questionable", "rating"), ("explicit", "rating"),
               ("best_quality", "quality"), ("high_quality", "quality"),
               ("normal_quality", "quality"), ("low_quality", "quality"),
               ("worst_quality", "quality"), ("bad_quality", "quality")]
LANES = ["general", "character", "copyright", "artist", "meta", "model"]
LANE_WEIGHTS = [0.70, 0.12, 0.06, 0.07, 0.04, 0.01]
# Expected positive logits per row in each threshold lane: "a few tags
# per category pass the threshold".
LANE_POSITIVES = {"general": 6.0, "character": 1.0, "copyright": 0.7,
                  "artist": 0.5, "meta": 1.0, "model": 0.3}
# Meta names that hit Vocab.metaBlacklist substrings ("id", "commentary",
# "request", "mismatch"), so the anti-filter does real work.
BLACKLISTED_META = ["commentary_request", "translation_request",
                    "artist_id_mismatch", "bad_id", "commentary"]


def vocab_entries(seed):
    """[(tag_idx, tag, category)] in emission (JSON insertion) order."""
    rng = np.random.default_rng([seed, 1])
    out = [(i, t, c) for i, (t, c) in enumerate(ARGMAX_TAGS)]
    lanes = rng.choice(len(LANES), size=VOCAB_SIZE - len(out), p=LANE_WEIGHTS)
    n_meta = 0
    for k, lane in enumerate(lanes):
        idx = len(ARGMAX_TAGS) + k
        cat = LANES[lane]
        if cat == "meta" and n_meta < len(BLACKLISTED_META):
            name = BLACKLISTED_META[n_meta]
            n_meta += 1
        elif k % 3 == 0:
            name = f"{cat}_tag_{idx}"      # underscore names: display swaps to spaces
        else:
            name = f"{cat}{idx}"
        out.append((idx, name, cat))
    return out


def write_vocab(seed, path):
    entries = vocab_entries(seed)
    doc = {str(i): {"tag": t, "category": c} for i, t, c in entries}
    with open(path, "w") as f:
        json.dump(doc, f, separators=(",", ":"))
    return entries


def write_logits(seed, out_dir, entries):
    """LOGIT_ROWS stored model outputs split over LOGIT_FILES parquet files
    of (path_id BIGINT, logits ARRAY<FLOAT>). Returns the input properties."""
    rng = np.random.default_rng([seed, 2])
    cats = [c for _, _, c in entries]
    lane_size = {c: cats.count(c) for c in LANES}
    p_pos = np.array([LANE_POSITIVES[c] / lane_size[c] if c in LANE_POSITIVES else 0.0
                      for c in cats])
    logits = rng.normal(-4.0, 1.5, size=(LOGIT_ROWS, VOCAB_SIZE)).astype(np.float32)
    pos = rng.random((LOGIT_ROWS, VOCAB_SIZE)) < p_pos
    logits[pos] = rng.normal(1.5, 1.2, size=int(pos.sum())).astype(np.float32)
    os.makedirs(out_dir, exist_ok=True)
    per = LOGIT_ROWS // LOGIT_FILES
    for f in range(LOGIT_FILES):
        lo, hi = f * per, LOGIT_ROWS if f == LOGIT_FILES - 1 else (f + 1) * per
        block = logits[lo:hi]
        arr = pa.ListArray.from_arrays(
            pa.array(np.arange(0, (hi - lo) * VOCAB_SIZE + 1, VOCAB_SIZE, dtype=np.int32)),
            pa.array(block.reshape(-1)))
        table = pa.table({"path_id": pa.array(np.arange(lo, hi, dtype=np.int64)),
                          "logits": arr})
        pq.write_table(table, os.path.join(out_dir, f"part-{f:05d}.parquet"))
    return {"rows": LOGIT_ROWS, "files": LOGIT_FILES, "logits_per_row": VOCAB_SIZE,
            "positive_logit_share": round(float(pos.mean()), 6)}

"""Seeded input generators. The same (sizes, seed) always writes the
same files; the program under test only ever sees these files.

- er_batch:    the package's standard synthetic corpus
               (corpus.generate_turns_distributed), written as parquet.
- er_longtail: a long-tail vocabulary of pseudo-words, each with a
               deletion and a transposition typo variant, plus a few
               variant pairs that only the context bonus could match;
               every label appears in at least 3 conversations. Written
               as parquet plus the ground-truth labelled pairs.
- inc_serve:   Claude Code JSONL files: a base corpus and a pool of
               batches (new conversations plus changed ones), with a
               manifest of each conversation version's marker label and
               truth pairs.
"""

from __future__ import annotations

import json
import random
import shutil
from datetime import datetime, timedelta, timezone
from pathlib import Path

import pandas as pd

GEN_VERSION = 3

_CONSONANTS = "bdfgklmnprstvz"
_VOWELS = "aeiou"
_BASE_TS = datetime(2026, 3, 2, 9, 0, 0, tzinfo=timezone.utc)


def _is_plain_word(w: str) -> bool:
    from session_graph_spark.data import STOPWORDS

    # L1 rejects all-hex-letter tokens of 6+ chars and 2-char tokens
    return (len(w) > 2 and w not in STOPWORDS
            and not set(w) <= set("abcdef"))


class _Vocab:
    """Distinct pseudo-words (consonant-vowel syllables) from one rng."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.used: set[str] = set()

    def word(self, syllables: tuple[int, int] = (4, 5)) -> str:
        while True:
            n = self.rng.randint(*syllables)
            w = "".join(self.rng.choice(_CONSONANTS) + self.rng.choice(_VOWELS)
                        for _ in range(n))
            if w not in self.used and _is_plain_word(w):
                self.used.add(w)
                return w

    def group(self) -> list[str]:
        """A word with a deletion and a transposition variant, all new."""
        while True:
            base = self.word()
            i = self.rng.randrange(1, len(base) - 1)
            dele = base[:i] + base[i + 1:]
            j = self.rng.randrange(1, len(base) - 2)
            trans = base[:j] + base[j + 1] + base[j] + base[j + 2:]
            grp = [base, dele, trans]
            if len(set(grp)) == 3 and not (set(grp[1:]) & self.used) \
                    and all(_is_plain_word(w) for w in grp[1:]):
                self.used.update(grp)
                return grp


def _band_pair(vocab: _Vocab) -> list[str]:
    """A new 10-letter word and a variant with two substitutions that the
    string kernel scores inside the context band [MATCH_THRESHOLD -
    CTX_WEIGHT, MATCH_THRESHOLD), variant-shaped (levenshtein ratio >=
    CTX_VARIANT_LEV) and sharing a MinHash band, so blocking proposes it:
    a pair only resolve()'s context bonus could match. Planting a fixed
    number of them makes every seed run the context layer; left to
    chance, seed 2 of seeds 1-10 did (2 band labels) and its resolve
    took 17-19 s against 11-16 s for the others on a quiet host."""
    from session_graph_spark.functions import similarity as S
    from session_graph_spark.operators.blocking import minhash_bands_batch

    lo, hi = S.MATCH_THRESHOLD - S.CTX_WEIGHT, S.MATCH_THRESHOLD
    rng = vocab.rng
    while True:
        base = vocab.word((5, 5))
        chars = list(base)
        for i in rng.sample(range(len(chars)), 2):
            pool = _VOWELS if chars[i] in _VOWELS else _CONSONANTS
            chars[i] = rng.choice([c for c in pool if c != chars[i]])
        var = "".join(chars)
        if var in vocab.used or not _is_plain_word(var):
            continue
        if not (lo + 0.01 <= S.combined_score(base, var) < hi - 0.01
                and S.levenshtein_ratio(base, var) >= S.CTX_VARIANT_LEV):
            continue
        bands = minhash_bands_batch(pd.Series([base, var]))
        if bands.groupby("band_key").label.nunique().max() < 2:
            continue
        vocab.used.add(var)
        return [base, var]


def _group_pairs(grp: list[str]) -> list[tuple[str, str]]:
    return [tuple(sorted((a, b))) for i, a in enumerate(grp) for b in grp[i + 1:]]


def _done(out: Path) -> bool:
    return (out / "_DONE").exists()


def _fresh(out: Path) -> None:
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)


# ---- er_batch ------------------------------------------------------------
def er_batch(spark, out: Path, seed: int, n_convs: int) -> Path:
    from session_graph_spark import corpus

    if not _done(out):
        _fresh(out)
        corpus.generate_turns_distributed(
            spark, n_convs=n_convs, seed=seed, partitions=8,
        ).write.mode("overwrite").parquet(str(out / "turns"))
        (out / "_DONE").write_text("")
    return out / "turns"


# ---- er_longtail ---------------------------------------------------------
def longtail_tables(seed: int, n_words: int, n_band: int = 4,
                    per_turn: int = 8, plants: int = 3
                    ) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(turns, labelled pairs). Every label of every group (n_words typo
    groups and n_band context-band pairs) is planted in `plants` distinct
    conversations; each assistant turn carries up to `per_turn` labels,
    inside the extractor's 10-mention cap."""
    rng = random.Random(seed)
    vocab = _Vocab(rng)
    groups = [vocab.group() for _ in range(n_words)]
    groups += [_band_pair(vocab) for _ in range(n_band)]
    labels = [w for g in groups for w in g]
    n_convs = max(plants, len(labels) * plants // (per_turn * 4))
    slots: list[list[str]] = [[] for _ in range(n_convs)]
    for w in labels:
        for ci in rng.sample(range(n_convs), plants):
            slots[ci].append(w)
    rows = []
    for ci, words in enumerate(slots):
        conv = f"lt-{seed}-{ci:06d}"
        rng.shuffle(words)
        turns = [words[i:i + per_turn] for i in range(0, len(words), per_turn)]
        ti = 0
        for chunk in turns:
            text = " ".join(chunk)
            while len(text) < 30:  # the extractor skips turns under 30 chars
                text += " the"  # a stopword: never a mention
            rows.append((conv, ti, "user", "Which names came up in that review?"))
            rows.append((conv, ti + 1, "assistant", text))
            ti += 2
    turns = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text"])
    turns["turn_idx"] = turns["turn_idx"].astype("int32")
    turns["ts"] = [_BASE_TS + timedelta(seconds=30 * i) for i in range(len(turns))]
    turns["platform"] = "claude-code"
    turns["tool"] = pd.Series([None] * len(turns), dtype="string")
    turns["source_file"] = "/projects/longtail/" + turns["conv_id"] + ".jsonl"

    # the truth covers the typo groups; the band pairs carry no label:
    # whether context merges them is the context layer's call
    groups = groups[:n_words]
    pos = [p for g in groups for p in _group_pairs(g)]
    # hard negatives: each base word against the next base in sorted
    # order (shared prefixes) and a variant against another group's base
    bases = sorted(g[0] for g in groups)
    neg = {tuple(sorted((a, b))) for a, b in zip(bases, bases[1:])}
    for g, h in zip(groups, groups[1:]):
        neg.add(tuple(sorted((g[1], h[0]))))
    truth = pd.DataFrame(
        [(a, b, True) for a, b in pos] + [(a, b, False) for a, b in sorted(neg)],
        columns=["surface_a", "surface_b", "is_match"])
    return turns, truth


def er_longtail(out: Path, seed: int, n_words: int, n_band: int = 4) -> Path:
    if not _done(out):
        _fresh(out)
        turns, truth = longtail_tables(seed, n_words, n_band)
        # microsecond timestamps: Spark reads no nanosecond parquet type
        turns.to_parquet(out / "turns.parquet", index=False,
                         coerce_timestamps="us")
        truth.to_parquet(out / "truth.parquet", index=False)
        (out / "_DONE").write_text("")
    return out


# ---- inc_serve -----------------------------------------------------------
_SENTENCES = [
    "Reviewed the {0} handler and the {1} adapter before the {2} rollout.",
    "Traced the timeout to {0}; the {1} client retries while {2} drains.",
    "Moved {0} behind the {1} gateway and pinned {2} for the release.",
]


def _conversation_lines(conv: str, version: int, words: list[str],
                        rng: random.Random) -> list[str]:
    """One Claude Code session file: alternating user and assistant
    messages; assistant text carries the conversation's labels."""
    lines = []
    ts = _BASE_TS + timedelta(minutes=version)
    parent = None
    chunks = [words[i:i + 3] for i in range(0, len(words), 3)]
    for k, chunk in enumerate(chunks):
        chunk = (chunk + words[:3])[:3]
        for role, text in (("user", "What changed in the deployment since yesterday?"),
                           ("assistant", rng.choice(_SENTENCES).format(*chunk))):
            uid = f"{conv}-v{version}-{len(lines)}"
            rec = {"type": role, "uuid": uid, "parentUuid": parent,
                   "timestamp": (ts + timedelta(seconds=10 * len(lines)))
                   .strftime("%Y-%m-%dT%H:%M:%S.000Z"),
                   "sessionId": conv,
                   "message": {"role": role,
                               "content": [{"type": "text", "text": text}]}}
            if role == "assistant":
                rec["message"]["model"] = "claude-sonnet-4"
            lines.append(json.dumps(rec))
            parent = uid
    return lines


def inc_serve(out: Path, seed: int, n_base: int, n_batches: int,
              n_new: int, n_changed: int) -> Path:
    """out/base/*.jsonl, out/batches/<k>/*.jsonl and out/manifest.json:
    per batch the new and changed conversation ids, and per conversation
    version its marker label and group truth pairs."""
    if _done(out):
        return out
    _fresh(out)
    rng = random.Random(seed)
    vocab = _Vocab(rng)
    versions: dict[str, list[dict]] = {}

    def write(dirpath: Path, conv: str) -> None:
        version = len(versions.get(conv, []))
        marker = vocab.word((5, 5))
        grps = [vocab.group() for _ in range(2)]
        words = [w for g in grps for w in g] + [marker]
        rng.shuffle(words)
        dirpath.mkdir(parents=True, exist_ok=True)
        (dirpath / f"{conv}.jsonl").write_text(
            "\n".join(_conversation_lines(conv, version, words, rng)) + "\n")
        versions.setdefault(conv, []).append(
            {"marker": marker,
             "pairs": [p for g in grps for p in _group_pairs(g)],
             "negatives": [tuple(sorted((a, b))) for a, b in zip(*grps)]})

    base_ids = [f"cc-{seed}-{i:06d}" for i in range(n_base)]
    for conv in base_ids:
        write(out / "base", conv)
    batches = []
    for b in range(n_batches):
        # changed: any conversation committed before this batch
        changed = rng.sample(sorted(versions), n_changed)
        new = [f"cc-{seed}-b{b:03d}-{i:04d}" for i in range(n_new)]
        for conv in new + changed:
            write(out / "batches" / f"{b:03d}", conv)
        batches.append({"new": new, "changed": changed})
    (out / "manifest.json").write_text(json.dumps(
        {"base": base_ids, "batches": batches, "versions": versions},
        sort_keys=True))
    (out / "_DONE").write_text("")
    return out

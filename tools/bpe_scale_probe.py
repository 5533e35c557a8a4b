"""BPE distributed-training cost probe at realistic vocabulary scale.

The round-8 verdict's honest boundary: exact distributed BPE is ~N/k
sequential pair-count jobs.  This probe measures that curve at a
REALISTIC vocabulary (>= 4k merges) over a >= 2M-distinct-word
frequency model, and reports the achieved effective k (merges accepted
per round) as ``top_m`` and ``batch_k`` widen — the two levers that
shrink the sequential-job count without trading exactness.

The corpus is synthesized directly as a ``(word, freq)`` frequency
model (the training loop's actual input; building it from documents is
the one corpus-scale pass and is measured elsewhere): words are 3-5
syllables drawn from a 40-syllable English-like inventory keyed by
``xxhash64`` of the row id (executor-side, deterministic, no driver
data path), frequencies are Zipf-ish in the row id, and colliding words
merge by summing their frequencies — exactly what ``word_freq_df``
would emit.

Run:  python tools/bpe_scale_probe.py [--n-ids 6000000]
      [--grid "16:64,64:512,128:1024"] [--n-merges 4096]
Each grid cell "batch_k:top_m" runs in its own subprocess (fresh JVM —
the scaling_probe lesson: long-lived sessions inflate later cells) and
prints one JSON line; paste the table into SCALING.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_MARKER = "BPE_PROBE_JSON:"

_SYLLABLES = (
    "th he in er an re on at en nd ti es or te of ed is it al ar st to "
    "nt ng se ha as ou io le ve co me de hi ri ro ic ne ea ra ce li"
).split()


def synth_word_freq(spark, n_ids: int):
    """A deterministic ``(word, freq)`` frequency model with >= 2M
    distinct words at the default 6M ids: 3-5 syllables per word (id %
    3), syllable j keyed by ``xxhash64(id, j)``, Zipf-ish frequency, and
    a groupBy-sum merging hash collisions (what ``word_freq_df`` emits)."""
    from pyspark.sql import functions as F

    syl = F.array(*[F.lit(s) for s in _SYLLABLES])
    word = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(0), F.lit(2) + F.pmod(F.col("id"), F.lit(3))),
            lambda j: F.element_at(
                syl, (F.pmod(F.xxhash64(F.col("id"), j), F.lit(40)) + 1).cast("int")
            ),
        ),
    )
    freq = (
        F.lit(2_000_000_000.0)
        / F.pow(F.col("id").cast("double") + 1.0, F.lit(1.1))
    ).cast("long") + 1
    return (
        spark.range(int(n_ids))
        .select(word.alias("word"), freq.alias("freq"))
        .groupBy("word")
        .agg(F.sum("freq").alias("freq"))
    )


def _weighted_tokens(words_freqs: list, ranked: list) -> int:
    """Frequency-weighted token count of the corpus encoded with the
    merge table — the compression yardstick (SCALING.md round-10: merge
    SET overlap misleads; tokens-per-corpus is what a tokenizer buys).
    Encode = repeatedly merge the lowest-RANK adjacent pair present
    (leftmost-non-overlapping pass) — equivalent to the rank-order
    replace chain, because a merge can only create pairs learned in
    LATER rounds and never creates an old-old adjacency."""
    rank = {(l, r): i for i, (l, r) in enumerate(ranked)}
    total = 0
    for word, freq in words_freqs:
        syms = list(word)
        while len(syms) > 1:
            best = bi = None
            for i in range(len(syms) - 1):
                k = rank.get((syms[i], syms[i + 1]))
                if k is not None and (best is None or k < best):
                    best, bi = k, i
            if best is None:
                break
            l, r = ranked[best]
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        total += len(syms) * freq
    return total


def run_one(
    n_ids: int,
    n_merges: int,
    batch_k: int,
    top_m: int,
    mode: str = "exact",
    encode_depths: tuple = (),
    encode_sample: int = 0,
) -> None:
    from imops_spark.functions.bpe import _train_distributed
    from imops_spark.session import get_spark

    spark = get_spark(app_name=f"bpe_probe_{batch_k}_{top_m}")
    spark.sparkContext.setLogLevel("ERROR")
    wf = synth_word_freq(spark, n_ids).localCheckpoint()  # exclude synth cost
    n_words = wf.count()
    stats: dict = {}
    t0 = time.perf_counter()
    merges = _train_distributed(
        spark, wf, n_merges, min_freq=2, batch_k=batch_k, stats=stats,
        top_m=top_m, mode=mode,
    )
    wall = round(time.perf_counter() - t0, 1)
    enc: dict = {}
    if encode_depths:
        words_freqs = sorted(
            (r["word"], int(r["freq"])) for r in wf.collect()
        )
        if encode_sample and len(words_freqs) > encode_sample:
            # the driver-side encoder is O(words x passes): cap it with a
            # DETERMINISTIC stride sample (sorted order, same words in
            # every cell), so cross-cell token counts stay comparable —
            # deltas are sample-based, absolute counts are of the sample
            stride = max(1, len(words_freqs) // int(encode_sample))
            words_freqs = words_freqs[::stride]
            enc["encode_sample_words"] = len(words_freqs)
        base = sum(len(w) * f for w, f in words_freqs)
        enc["char_tokens"] = base
        for d in encode_depths:
            ranked = [(l, r) for l, r, _n in merges[: int(d)]]
            enc[f"tokens_at_{d}"] = _weighted_tokens(words_freqs, ranked)
    print(
        _MARKER
        + json.dumps(
            {
                "n_ids": n_ids,
                "n_distinct_words": n_words,
                "n_merges_asked": n_merges,
                "n_merges_done": len(merges),
                "batch_k": batch_k,
                "top_m": top_m,
                "mode": mode,
                "wall_sec": wall,
                "sec_per_merge": round(wall / max(len(merges), 1), 3),
                **stats,
                **enc,
            }
        ),
        flush=True,
    )
    spark.stop()


def main() -> None:
    args = dict(a.split("=", 1) for a in sys.argv[1:] if "=" in a)
    n_ids = int(args.get("--n-ids", 6_000_000))
    n_merges = int(args.get("--n-merges", 4096))
    mode = args.get("--mode", "exact")
    depths = tuple(
        int(d) for d in args.get("--encode-depths", "").split(",") if d
    )
    grid = args.get("--grid", "16:64,64:512,128:1024")
    sample = int(args.get("--encode-sample", 0))
    if "--one" in args:
        bk, tm = map(int, args["--one"].split(":"))
        run_one(
            n_ids, n_merges, bk, tm, mode=mode, encode_depths=depths,
            encode_sample=sample,
        )
        return
    for cell in grid.split(","):
        proc = subprocess.run(
            [
                sys.executable,
                os.path.abspath(__file__),
                f"--one={cell}",
                f"--n-ids={n_ids}",
                f"--n-merges={n_merges}",
                f"--mode={mode}",
                f"--encode-depths={args.get('--encode-depths', '')}",
                f"--encode-sample={sample}",
            ],
            capture_output=True,
            text=True,
            check=False,
        )
        hit = [
            line for line in proc.stdout.splitlines() if line.startswith(_MARKER)
        ]
        if not hit:
            sys.stderr.write(proc.stdout + proc.stderr)
            raise RuntimeError(f"cell {cell} produced no result")
        print(hit[-1][len(_MARKER):], flush=True)


if __name__ == "__main__":
    main()

"""``examples/llm_pipeline.py`` runs end to end and each stage prints a
consistent line.

The example is not a reachability root (tests/test_reachability.py), so
no engine code is kept alive for it; this slow-tier test is what keeps
the example itself from rotting. It runs the script in its own process,
because the script stops the Spark session it uses."""

from __future__ import annotations

import os
import re
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One pattern per stage line, in the order the script prints them.
_STAGES = [
    ("corpus", r"corpus: (?P<n0>\d+) docs"),
    ("media", r"media ledger \[\w+\]: \d+ payloads, \d+ bytes, \d+ distinct, dup \d+ ppm"),
    ("profile", r"intake profile \[text\]: len \d+-\d+ mean [\d.]+ chars, \d+ null / \d+ blank"),
    ("richness", r"lexical richness: \d+ sources; most template-like = \S+ "
                 r"\(hapax share \d+ ppm, ttr \d+ ppm\)"),
    ("kappa", r"rater agreement: po \d+ ppm vs chance \d+ ppm -> kappa -?\d+ ppm"),
    ("c4", r"c4_filters kept (?P<c4>\d+)/(?P<c4_of>\d+)"),
    ("classifier", r"trained classifier \(8 rounds\) agrees with the word-floor-40 "
                   r"C4 gate on (?P<agree>\d+)/(?P<agree_of>\d+)"),
    ("gate", r"classifier gate kept (?P<gated>\d+), quality-weighted sample kept (?P<sampled>\d+)"),
    ("dedup", r"exact dedup kept (?P<dedup>\d+)"),
    ("repeats", r"exact-substring repeats \(>=8 tokens\) cover (?P<covered>\d+)/(?P<toks>\d+) tokens"),
    ("minhash", r"minhash audit \(k=16, 1-hash band\): (\d+ candidate pairs, mean "
                r"\|est-exact\| \d+ ppm, \d+ pairs flip across the 0\.8 dedup "
                r"threshold|no candidate pairs)"),
    ("lm", r"LM gate \(>=35000 ppm\) kept (?P<lm>\d+)"),
    ("mix", r"domain mix kept (?P<mix>\d+)"),
    ("split", r"exact split: (?P<train>\d+) train / (?P<holdout>\d+) holdout"),
    ("novelty", r"novelty curriculum: (?P<nov_docs>\d+) docs, novelty ppm "
                r"min \d+ / median \d+ / max \d+"),
    ("zipf", r"zipf profile: decade \d+: \d+ types/\d+ tokens(, decade \d+: \d+ types/\d+ tokens)*"),
    ("chunks", r"chunks: (?P<chunks>\d+)"),
    ("packing", r"packing audit \(cap 128\): (?P<pack_docs>\d+) docs / \d+ tokens -> "
                r"\d+ bins, \d+ waste tokens, \d+ boundary-crossing docs"),
    ("hll", r"hll source audit: raw est \d+, linear-counting (\d+|n/a \(no empty "
            r"registers\)), exact \d+ \(\d+ empty registers\)"),
]


@pytest.mark.slow
def test_llm_pipeline_example_runs_every_stage(sf_small):
    if not os.path.exists(os.path.join(sf_small, "documents.parquet")):
        pytest.skip("sf0.001 documents fixture not present")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "examples", "llm_pipeline.py")],
        env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_small},
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    # progress bars share stdout lines; a stage line starts after any "\r"
    lines = [ln.rpartition("\r")[2].strip() for ln in proc.stdout.splitlines()]
    got: dict[str, str] = {}
    pos = 0
    for name, pattern in _STAGES:
        rx = re.compile(pattern + "$")
        while pos < len(lines) and not rx.search(lines[pos]):
            pos += 1
        assert pos < len(lines), f"stage {name!r} printed no matching line:\n{proc.stdout}"
        got.update({k: int(v) for k, v in rx.search(lines[pos]).groupdict().items()})
        pos += 1

    n0 = got["n0"]
    assert n0 > 0
    assert got["c4_of"] == got["agree_of"] == n0
    assert got["c4"] <= n0 and got["agree"] <= n0
    assert got["sampled"] <= got["gated"] <= got["c4"]
    assert got["dedup"] <= got["sampled"]
    assert got["covered"] <= got["toks"]
    assert got["lm"] <= got["dedup"]
    assert got["mix"] <= got["lm"]
    # the exact holdout: train is (98 * N) div 100 of the mixed corpus
    assert got["train"] + got["holdout"] == got["mix"]
    assert got["train"] == (98 * got["mix"]) // 100
    assert got["nov_docs"] == got["pack_docs"] == got["train"]
    assert got["chunks"] >= got["train"] > 0

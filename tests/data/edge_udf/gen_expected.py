"""Write the identify-UDF outputs for the edge corpus as JSON.

    python tests/data/edge_udf/gen_expected.py --repo CHECKOUT > expected.json

``CHECKOUT`` is the source tree whose outputs are pinned (the committed
``expected.json`` came from commit 4301d22, the last tree before the
per-batch context). The body below is that tree's ``heli_udf`` with every
optional field on (``with_ft``, ``with_word_nll``, ``with_text_stats``,
confidence applied), written against the public calls both trees share:
``identify_batch``, ``ft_identify_batch`` and ``text_stats_batch``. One
fresh ``Scorer`` scores the batches in order, like one Python worker.

Floats are stored as JSON numbers: every f32 and f64 round-trips exactly
through ``repr``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", required=True)
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.repo))
    sys.path.insert(0, HERE)
    import corpus
    from heliport_spark.heli import Scorer
    from heliport_spark.textstats import text_stats_batch

    scorer = Scorer()
    out = {}
    for name, texts in zip(corpus.NAMES, corpus.batches()):
        tl = ["" if t is None else str(t) for t in texts]
        labels, score, raw, cjk, wnll = scorer.identify_batch(
            tl, False, with_word_nll=True
        )
        ft_lang, ft_prob = scorer.ft_identify_batch(tl)
        dr, ar, rc, sc = text_stats_batch(tl)
        out[name] = {
            "lang": [str(x) for x in labels],
            "score": [float(x) for x in score],
            "raw_score": [float(x) for x in raw],
            "cjk_pct": [float(x) for x in cjk],
            "ft_lang": [str(x) for x in ft_lang],
            "ft_prob": [float(x) for x in ft_prob],
            "word_nll": [float(x) for x in wnll],
            "digit_ratio": [float(x) for x in dr],
            "alpha_ratio": [float(x) for x in ar],
            "rep_cand": [bool(x) for x in rc],
            "scrub_cand": [bool(x) for x in sc],
        }
    json.dump(out, sys.stdout, indent=1)
    sys.stdout.write("\n")


if __name__ == "__main__":
    main()

"""Isolate CODE-quantization recall loss: residual vs raw IVFADC codes.

At the registry geometry (8 cells, n_probe=2, 5 queries, k=3) the two
IVFADC variants tie within one caught pair because recall loss is
dominated by CELL pruning, which both share.  This study removes that
confound: sweeping n_probe up to n_centroids makes cell loss exactly
zero at the top of the sweep, so any remaining gap between the
``ann_recall`` of ``ann_ivfpq`` and of ``ann_ivfpq_residual`` is attributable
to the codes (ADC candidate ranking × shortlist) alone.  A tight
shortlist stresses the code ranking further — with a corpus-sized
shortlist ADC order stops mattering, so the interesting cells are the
small-shortlist columns.

Run:  python scripts/residual_recall_study.py [sf_dir ...]
Defaults to /root/testdata/sf0.1 plus /tmp/sg_sf1 when present.
Prints one markdown table (paste into SCALE.md) and a JSON line.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    from killrweather_spark.api.inventory import _ivf_index_dir, load_table
    from killrweather_spark.functions.ann_index import ensure_ivf_index
    from killrweather_spark.functions.pq import (
        ann_ivfpq,
        ann_ivfpq_residual,
        ann_recall,
    )
    from killrweather_spark.session import get_session

    sf_dirs = sys.argv[1:] or [
        d
        for d in ("/root/testdata/sf0.1", "/tmp/sg_sf1")
        if os.path.isdir(d)
    ]
    n_queries = 50  # 50 queries x n_probe<=8 stays under the probe cap
    k = 10
    spark = get_session(app_name="residual_recall_study")
    rows = []
    for sf_dir in sf_dirs:
        emb = load_table(spark, sf_dir, "embeddings")
        idx = ensure_ivf_index(
            emb, _ivf_index_dir(sf_dir), n_centroids=8, iters=2
        )
        pred = lambda c: c < n_queries  # noqa: E731
        for n_probe in (2, 4, 8):
            for shortlist in (16, 32):
                raw, res = (
                    ann_recall(
                        ann(
                            spark, idx, emb, pred, k=k, n_probe=n_probe,
                            shortlist=shortlist,
                        ),
                        emb,
                        pred,
                        k=k,
                    ).collect()[0]
                    for ann in (ann_ivfpq, ann_ivfpq_residual)
                )
                assert raw.n_true == res.n_true
                rows.append(
                    {
                        "sf_dir": sf_dir,
                        "n_probe": n_probe,
                        "shortlist": shortlist,
                        "n_true": raw.n_true,
                        "raw_caught": raw.n_caught,
                        "res_caught": res.n_caught,
                        "raw_recall_micro": raw.recall_micro,
                        "res_recall_micro": res.recall_micro,
                    }
                )
                print(
                    f"{sf_dir} n_probe={n_probe} shortlist={shortlist}: "
                    f"raw {raw.n_caught}/{raw.n_true} "
                    f"res {res.n_caught}/{res.n_true}",
                    file=sys.stderr,
                )
    print(
        "\n| sf_dir | n_probe | shortlist | exact pairs | raw caught "
        "| residual caught | raw recall | residual recall |"
    )
    print("|---|---|---|---|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['sf_dir']} | {r['n_probe']} | {r['shortlist']} "
            f"| {r['n_true']} | {r['raw_caught']} | {r['res_caught']} "
            f"| {r['raw_recall_micro'] / 1e6:.3f} "
            f"| {r['res_recall_micro'] / 1e6:.3f} |"
        )
    print(json.dumps({"study": "residual_recall", "rows": rows}))
    spark.stop()


if __name__ == "__main__":
    main()

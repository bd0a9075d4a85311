"""Regenerate (or verify) the baked linear-classifier weights in
martial_arts_ocr_spark/emb_classifier.py from the fixed sf0.001
embeddings fixture.

Usage:
    python scripts/regen_emb_classifier.py            # verify current
    python scripts/regen_emb_classifier.py --write    # rewrite in place
"""

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from martial_arts_ocr_spark import emb_classifier as ec  # noqa: E402


def refit():
    import duckdb
    import numpy as np

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT embedding, label FROM read_parquet('{ec.FIT_FIXTURE}') "
        "ORDER BY vec_id"
    ).fetchall()
    con.close()
    X = np.array([r[0] for r in rows], dtype=np.float64)
    y = np.array(
        [1.0 if r[1] in ec.POSITIVE_LABELS else 0.0 for r in rows],
        dtype=np.float64,
    )
    return ec.fit_linear(X, y)


def main() -> None:
    weights, bias = refit()

    if "--write" in sys.argv:
        path = ec.__file__
        with open(path, encoding="utf-8") as f:
            src = f.read()
        lines = ",\n".join(
            "    " + ", ".join(repr(w) for w in weights[i:i + 4])
            for i in range(0, len(weights), 4)
        )
        src = re.sub(r"BIAS: float = .*\n", f"BIAS: float = {bias!r}\n",
                     src, count=1)
        src = re.sub(r"WEIGHTS: list\[float\] = \[.*?\]\n",
                     f"WEIGHTS: list[float] = [\n{lines},\n]\n",
                     src, count=1, flags=re.S)
        with open(path, "w", encoding="utf-8") as f:
            f.write(src)
        print(f"wrote {len(weights)} weights + bias to {path}")
    else:
        assert weights == ec.WEIGHTS and bias == ec.BIAS, (
            "baked weights stale; run with --write")
        print(f"baked weights current ({len(weights)} dims)")


if __name__ == "__main__":
    main()

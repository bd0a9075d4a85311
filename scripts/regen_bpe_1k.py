"""Regenerate (or verify) the baked 1,024-merge BPE table in
martial_arts_ocr_spark/bpe_merges_1k.py from the deterministic synthetic
rich corpus (bpe.synth_wfreq — see bpe.py's module comment for why the
driver corpus's 31-word vocabulary cannot train 1k merges).

Usage:
    python scripts/regen_bpe_1k.py            # verify literal is current
    python scripts/regen_bpe_1k.py --write    # rewrite the module
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from martial_arts_ocr_spark import bpe                      # noqa: E402

MODULE = os.path.join(os.path.dirname(bpe.__file__), "bpe_merges_1k.py")

HEADER = '''"""Baked 1,024-merge BPE table — trained on the deterministic
synthetic rich corpus (bpe.synth_wfreq(), vocab {vocab}, Zipf expected
frequencies). Regenerate ONLY via scripts/regen_bpe_1k.py, which retrains
and asserts this literal is current. The driver corpus cannot train this
table (31-word vocabulary at every SF caps merges at ~150); see
bpe.py\'s synthetic-corpus section for the full rationale."""

BPE_MERGES_1K: list[tuple[str, str]] = [
'''


def main() -> None:
    merges = bpe.train_bpe_from_freq(bpe.synth_wfreq(), bpe.N_MERGES_1K)
    assert len(merges) == bpe.N_MERGES_1K, len(merges)
    body = HEADER.format(vocab=bpe.SYNTH_VOCAB)
    body += "".join(f"    {m!r},\n" for m in merges)
    body += "]\n"

    if "--write" in sys.argv:
        with open(MODULE, "w", encoding="utf-8") as f:
            f.write(body)
        print(f"wrote {len(merges)} merges to {MODULE}")
    else:
        with open(MODULE, encoding="utf-8") as f:
            current = f.read()
        assert current == body, (
            "baked 1k table stale; run with --write")
        print(f"baked 1k table current ({len(merges)} merges)")


if __name__ == "__main__":
    main()

"""Re-pin the input fingerprints the benchmark checks its inputs against.

    python3 perfbench/pin_inputs.py

Writes perfbench/inputs.json: for the benchmark size, the fingerprint of
the corpus of seeds 0-99 (the default seed 42 among them). Run it only when
a change to fixtures.generate_corpus is meant to change the workloads; the
new fingerprints then start a new baseline.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs  # noqa: E402
from perfbench.run import SIZE  # noqa: E402

SEEDS = range(100)


def main() -> int:
    pins = {SIZE.key: {str(s): inputs.fingerprint(inputs.generate(SIZE, s)) for s in SEEDS}}
    with open(inputs.PINNED, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"pinned {len(SEEDS)} seeds of {SIZE.key} in {inputs.PINNED}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Build one workload's inputs in a process of its own, so that the
generator's memory stays out of the run it serves:

    python3 perfbench/gen.py headline /path/to/data_dir 1

A verified cached copy is reused. The last line of standard output is the
build's timings as one JSON object (``gen_s``, and for the headline also
``oracle_s``).
"""

from __future__ import annotations

import importlib
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE), str(HERE.parent / "tools")]


def main(argv: list[str]) -> int:
    module, data_dir, seed = argv
    timings = importlib.import_module(module).generate(Path(data_dir), int(seed))
    print(json.dumps(timings))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

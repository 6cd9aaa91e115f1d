"""The workload inputs are a function of the seed alone.

Run: python3 -m pytest perfbench/test_inputs.py -q

Each digest is computed in a fresh interpreter with its own hash seed,
so set iteration or hash randomization cannot hide in the comparison.
"""

import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _digest(seed: int, hash_seed: str) -> str:
    env = dict(os.environ, PYTHONHASHSEED=hash_seed,
               PYTHONPATH=os.pathsep.join([HERE, ROOT]))
    out = subprocess.run(
        [sys.executable, "-c", f"import inputs; print(inputs.digest({seed}))"],
        env=env, capture_output=True, text=True, check=True, timeout=300,
    )
    return out.stdout.strip().splitlines()[-1]


def test_same_seed_gives_identical_inputs():
    assert _digest(7, "1") == _digest(7, "2")


def test_other_seed_gives_other_inputs():
    assert _digest(7, "1") != _digest(8, "1")

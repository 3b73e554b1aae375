"""The generators are deterministic per seed: the same seed writes identical
inputs, another seed changes them.

    python3 -m pytest perfbench/test_gen.py
"""
import tempfile

import pytest

import gen


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_inputs_other_seed_other_inputs(workload):
    with tempfile.TemporaryDirectory() as d:
        a = gen.generate(workload, 7, f"{d}/a")
        b = gen.generate(workload, 7, f"{d}/b")
        c = gen.generate(workload, 8, f"{d}/c")
    assert a == b
    assert a["hashes"] and all(c["hashes"][k] != v for k, v in a["hashes"].items()
                               if k not in ("region",))


def test_key_hash_is_order_independent():
    keys = ["A|1m|60", "B|1h|3600", "C|1m|120"]
    assert gen.key_hash(keys) == gen.key_hash(reversed(keys))
    assert gen.key_hash(keys) != gen.key_hash(keys[:2])

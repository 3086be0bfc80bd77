"""Self-tests of the benchmark: `python3 perfbench/run.py --selftest`.

The JVM half (perfbench.SelfTest) covers the seeded input generator, the
tail-percentile rule and the `_bulk` receiver's checks; this half covers
the analytics result comparator against a planted wrong result.
"""
import tempfile
from pathlib import Path


def comparator_tests(compare):
    import pandas as pd
    exp = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, None, 2.0], "s": ["a", "b", None]})
    cases = {
        "equal frames, other row and column order": (
            exp.iloc[::-1][["s", "v", "k"]], True),
        "a wrong cell": (exp.assign(v=[0.5, None, 2.5]), False),
        "a missing row": (exp.iloc[:2], False),
        "a renamed column": (exp.rename(columns={"v": "w"}), False),
    }
    failed = 0
    for name, (got, same) in cases.items():
        ok = (compare(exp, got) is None) == same
        print(f"{'ok  ' if ok else 'FAIL'} comparator: {name}")
        failed += not ok
    return failed


def main(run_jvm, compare):
    failed = comparator_tests(compare)
    with tempfile.TemporaryDirectory(dir=Path(__file__).parent / ".work") as d:
        rc = run_jvm("perfbench.SelfTest", Path(d), [])
        print((Path(d) / "jvm.log").read_text(), end="")
    failed += rc != 0
    print("selftest: all passed" if failed == 0 else "selftest: FAILED")
    return 1 if failed else 0

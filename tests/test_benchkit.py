"""scripts/benchkit.run_child: the one stdout-measurement scan behind
every bench launcher. Plain ``python -c`` children, no Spark."""

import sys

import pytest

from scripts.benchkit import run_child


def _py(src: str) -> list[str]:
    return [sys.executable, "-c", src]


def test_measurement_survives_nonzero_exit():
    # the JVM-shutdown-hook failure: measurement printed, then rc=1
    got = run_child(_py("import json, sys\n"
                        "print(json.dumps({'wall_sec': 1.5}), flush=True)\n"
                        "sys.exit(1)"), "rc1")
    assert got == {"wall_sec": 1.5}


def test_stray_lines_after_measurement_are_ignored():
    got = run_child(_py("print('{\"wall_sec\": 2.0, \"n_docs\": 7}')\n"
                        "print('WARN late shutdown noise')\n"
                        "print('NaN')\n"
                        "print('3')"), "stray")
    assert got == {"wall_sec": 2.0, "n_docs": 7}


def test_no_measurement_raises_with_stderr_tail():
    with pytest.raises(RuntimeError, match="JVM died") as e:
        run_child(_py("import sys\n"
                      "print('NaN')\n"
                      "sys.stderr.write('boom: JVM died\\n')\n"
                      "sys.exit(3)"), "nomeasure")
    assert "nomeasure" in str(e.value) and "rc=3" in str(e.value)

"""``__spark_entry__.oracle_sql()`` must give the same text in every
process, whatever the interpreter's string-hash seed."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DUMP = ("import json, __spark_entry__ as e; "
        "print(json.dumps(e.oracle_sql(), sort_keys=True))")


def _oracle_sql(hash_seed: str) -> dict:
    env = dict(os.environ, PYTHONHASHSEED=hash_seed)
    out = subprocess.run([sys.executable, "-c", DUMP], cwd=REPO, env=env,
                         capture_output=True, text=True, check=True)
    return json.loads(out.stdout)


def test_oracle_sql_independent_of_hash_seed():
    a, b = _oracle_sql("1"), _oracle_sql("2")
    assert len(a) == 45
    assert a == b, sorted(q for q in a if a[q] != b.get(q))

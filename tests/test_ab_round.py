"""Guard for scripts/ab_round.py's pinned-tree loader.

Every A/B in this repo runs the old variant from ``materialize_rev``: a
``git archive`` of the package, renamed to ``jgs_pinned`` with its
self-imports rewritten. If one rewrite is missed, the old variant
silently imports the working tree's code and the A/B compares the new
code with itself. This test unpacks HEAD and checks that the pinned
package stands alone and registers the same queries as the working
tree. The import runs in a subprocess so this process's module table
never holds the pinned copy.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

from jubilant_garbanzo_spark.queries import load_all

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))

from ab_round import OLD_PKG, PKG, materialize_rev  # noqa: E402

_PROBE = """
import json, sys
sys.path.insert(0, sys.argv[1])
from {old}.queries import load_all
names = sorted(load_all())
print(json.dumps({{"names": names, "leaked": "{new}" in sys.modules}}))
"""


def test_materialize_rev_head_is_self_contained():
    root = materialize_rev("HEAD")
    try:
        pys = sorted((root / OLD_PKG).rglob("*.py"))
        assert pys, f"materialize_rev unpacked no .py files under {root}"
        naming = [str(p.relative_to(root)) for p in pys if PKG in p.read_text()]
        assert not naming, f"pinned files still name {PKG}: {naming}"

        proc = subprocess.run(
            [
                sys.executable,
                "-c",
                _PROBE.format(old=OLD_PKG, new=PKG),
                str(root),
            ],
            capture_output=True,
            text=True,
            cwd=str(root),
            timeout=300,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        got = json.loads(proc.stdout.strip().splitlines()[-1])
        assert not got["leaked"], f"importing {OLD_PKG} imported {PKG}"
        pinned, tree = set(got["names"]), set(load_all())
        assert pinned == tree, (
            "HEAD's pinned registry differs from the working tree's: "
            f"only in HEAD {sorted(pinned - tree)}, "
            f"only in the tree {sorted(tree - pinned)}"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)

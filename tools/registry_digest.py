"""Digest of the query registry, comparable across checkouts:

    python tools/registry_digest.py

Prints two sha256 lines: one of ``list(queries())`` (the registered
names in the driver's order) and one of ``registry.resolved_oracles()``
(every rendered oracle text). Four oracles render a
``read_json_objects`` path under the package's ``resources/``, so the
raw texts embed the checkout's absolute path and two checkouts of one
commit would never hash equal; the package root is replaced by a fixed
token first. A change that must leave the registry untouched prints the
same two lines before and after.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

PACKAGE_TOKEN = "<travel_data_pipeline_spark>"


def canonical_oracles() -> dict[str, str]:
    """resolved_oracles() with the package root replaced by a token."""
    from travel_data_pipeline_spark import registry

    root = os.path.dirname(os.path.abspath(registry.__file__))
    return {name: sql.replace(root, PACKAGE_TOKEN)
            for name, sql in registry.resolved_oracles().items()}


def digests() -> dict[str, str]:
    import __spark_entry__ as E

    def sha(obj) -> str:
        return hashlib.sha256(
            json.dumps(obj, sort_keys=True).encode()).hexdigest()

    return {"queries": sha(list(E.queries())),
            "oracles": sha(canonical_oracles())}


def main() -> None:
    for name, digest in digests().items():
        print(name, digest)


if __name__ == "__main__":
    main()

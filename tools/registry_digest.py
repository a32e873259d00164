#!/usr/bin/env python
"""Print one JSON line of digests over the registry's entry names and
oracle SQL, for showing that a refactor left both byte-identical:

    python tools/registry_digest.py [repo_dir]

Run it on two checkouts and compare the lines. ``repo_dir`` defaults to
the checkout this script lives in.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)
sys.path.insert(0, root)

from gmall_flink_2022_spark import plans  # noqa: E402

names = list(plans.REGISTRY)
oracles = [plans.REGISTRY[n].oracle or "" for n in names]
print(
    json.dumps(
        {
            "entries": len(names),
            "names_sha256": hashlib.sha256("\n".join(names).encode()).hexdigest(),
            "oracles_sha256": hashlib.sha256(
                "\0".join(oracles).encode()
            ).hexdigest(),
        }
    )
)

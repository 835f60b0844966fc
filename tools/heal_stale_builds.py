#!/usr/bin/env python3
"""Release stale build-claim markers in a state directory — the
scriptable, safe form of the dual-writer fence's documented manual
heal ("remove the marker once the host is known dead").

A host that dies mid-build leaves its ``v<N>.builder`` claim behind;
acquire_build refuses remote claims regardless of age (liveness is
unprovable from here), so every future build of that version wedges
with "dual-writer detected" until the claim is cleared. This tool
clears claims older than a threshold the OPERATOR chooses — pick one
longer than the longest possible batch/compaction plus cross-host
clock skew. Dry-run by default; pass --apply to release.

Works on both stores' state dirs: each keeps its v<N> version dirs,
and so their claims, at the root (the tx processor's state, and the
incremental-dedup state whose versions hold sigs/, bands/, band_hot/).

Runs under the state dir's advisory writer lock (role "heal") so no
same-filesystem writer is mid-build during the walk. See
state_backend.heal_stale_builds for the safety argument (a healed
live builder fails its commit-time validate_build; it cannot publish
interleaved state).

Usage:
    python tools/heal_stale_builds.py STATE_DIR --older-than 86400
    python tools/heal_stale_builds.py STATE_DIR --older-than 86400 --apply
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streaming_examples_spark.streaming.locks import writer_lock  # noqa: E402
from streaming_examples_spark.streaming.state_backend import (  # noqa: E402
    LocalPosixBackend,
    heal_stale_builds,
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("state_dir")
    ap.add_argument(
        "--older-than",
        type=float,
        required=True,
        metavar="SECONDS",
        help="release claims older than this; must exceed the longest "
        "possible build plus cross-host clock skew",
    )
    ap.add_argument(
        "--apply",
        action="store_true",
        help="actually release (default: dry-run report only)",
    )
    args = ap.parse_args()

    with writer_lock(args.state_dir, "heal"):
        report = heal_stale_builds(
            LocalPosixBackend(), args.state_dir, args.older_than,
            dry_run=not args.apply,
        )
    print(json.dumps({"apply": args.apply, "report": report}, indent=2))
    healed, kept = len(report["healed"]), len(report["kept"])
    print(
        f"{'released' if args.apply else 'WOULD release'} {healed} claim(s), "
        f"kept {kept}",
        file=sys.stderr,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

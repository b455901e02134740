"""Counts read from a table's committed ``_delta_log`` JSON, after a run.

The benchmark reads the log files itself rather than through
``sources.delta_log`` so the counts stay independent of the layer they
describe.
"""

from __future__ import annotations

import json
import os


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, n))
        for root, _dirs, names in os.walk(path)
        for n in names
    )


def log_stats(table_dir: str) -> dict[str, int]:
    """Replay the commit JSONs in order. ``merge_live_before`` is the live
    file count each MERGE probed; ``merge_rows_written`` the rows its add
    actions carry (survivors of rewritten files plus the source rows)."""
    log_dir = os.path.join(table_dir, "_delta_log")
    commits = sorted(
        n for n in os.listdir(log_dir) if n.endswith(".json") and n[:20].isdigit()
    )
    live: dict[str, int] = {}
    out = {
        "commits": len(commits),
        "log_bytes": dir_bytes(log_dir),
        "bytes_written": 0,
        "merges": 0,
        "merge_matched_files": 0,
        "merge_live_before": 0,
        "merge_rows_written": 0,
    }
    for name in commits:
        with open(os.path.join(log_dir, name)) as f:
            actions = [json.loads(line) for line in f if line.strip()]
        info = next((a["commitInfo"] for a in actions if "commitInfo" in a), {})
        adds = [a["add"] for a in actions if "add" in a]
        if info.get("operation") == "MERGE":
            out["merges"] += 1
            out["merge_matched_files"] += int(
                info["operationParameters"]["matchedFiles"]
            )
            out["merge_live_before"] += len(live)
            out["merge_rows_written"] += sum(
                json.loads(a["stats"])["numRecords"] for a in adds
            )
        for a in actions:
            if "remove" in a:
                live.pop(a["remove"]["path"], None)
        for a in adds:
            live[a["path"]] = a["size"]
            out["bytes_written"] += a["size"]
    out["files_live"] = len(live)
    out["live_bytes"] = sum(live.values())
    return out

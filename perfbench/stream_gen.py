"""Open-loop document generator for the news_stream workload.

Runs as its own process. File ``i`` is due at a fixed time on a ladder of
fixed rates; it is written to a staging directory and renamed into the
source directory at that time, whatever state the query is in. A late
write never shifts the schedule: how late each write ran is recorded.

    python3 perfbench/stream_gen.py --src DIR --stage DIR --log FILE \
        --seed N --docs-per-file D --ladder RATE:FILES[,RATE:FILES...]

The log (JSON) holds the schedule start, one (file, phase, due, written,
doc ids) record per file and the ids of planted near copies.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen import stream_docs  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", required=True)
    ap.add_argument("--stage", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--docs-per-file", type=int, required=True)
    ap.add_argument("--ladder", required=True)
    args = ap.parse_args()

    ladder = [tuple(map(float, step.split(":"))) for step in args.ladder.split(",")]
    n_files = int(sum(n for _, n in ladder))
    files, planted = stream_docs(args.seed, n_files, args.docs_per_file)
    bodies = ["".join(json.dumps({"doc_id": d, "text": t}) + "\n" for d, t in docs) for docs in files]
    os.makedirs(args.stage, exist_ok=True)

    t0 = time.time() + 0.5
    due, phase, start = [], [], t0
    for p, (rate, n) in enumerate(ladder):
        due += [start + i / rate for i in range(int(n))]
        phase += [p] * int(n)
        start += n / rate

    records = []
    for i, docs in enumerate(files):
        wait = due[i] - time.time()
        if wait > 0:
            time.sleep(wait)
        staged = os.path.join(args.stage, f"f{i:06d}.json")
        with open(staged, "w") as f:
            f.write(bodies[i])
        os.rename(staged, os.path.join(args.src, f"f{i:06d}.json"))
        records.append(
            {"file": f"f{i:06d}.json", "phase": phase[i], "due": due[i],
             "written": time.time(), "docs": [d for d, _ in docs]}
        )
    with open(args.log, "w") as f:
        json.dump({"t0": t0, "files": records, "planted": sorted(planted)}, f)


if __name__ == "__main__":
    main()

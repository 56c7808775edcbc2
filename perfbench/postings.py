"""Seeded generator of RawJobPosting-shaped JSONL batches for the
`medallion` workload, and the expectations it derives from its own inputs.

Each tick is one landed batch of `posting_id, raw_content, source,
extracted_at` rows. From the second tick on a batch mixes new postings
with planted re-deliveries (an earlier admitted payload sent again, which
the dedup gate must drop), changed postings (a known `posting_id` with new
content, which `MERGE INTO` must apply) and, from the fourth tick on, late
events (new postings whose `extracted_at` is hours behind the stream, which
the gold mart's one-hour watermark must drop). Normal rows of tick `t`
fall in the hour `[T0 + (t-1)h, T0 + t*h)`, so `extracted_at` advances
across ticks and each tick finalizes a gold hour. Tick 0 lies one hour
earlier still, so the gold mart finalizes its first hour while draining
tick 1 instead of tick 2.
"""
import gzip
import json
import os
from collections import defaultdict
from datetime import datetime, timedelta, timezone

import numpy as np

T0 = datetime(2024, 3, 4, tzinfo=timezone.utc)
STEP = timedelta(hours=1)
SOURCES = ["linkedin", "indeed", "glassdoor", "monster", "ziprecruiter", "dice"]
TITLES = ["data engineer", "analytics engineer", "ml engineer", "backend developer",
          "sre", "data scientist", "platform engineer", "etl developer"]
CITIES = ["berlin", "lisbon", "austin", "toronto", "warsaw", "madrid", "oslo", "dublin"]
WORDS = ("spark sql python scala kafka airflow dbt warehouse lakehouse stream batch "
         "remote hybrid senior junior team salary benefits equity pipeline cloud "
         "aws gcp azure docker kubernetes terraform testing ownership growth").split()
SHARES = {"redelivery": 0.10, "changed": 0.10, "late": 0.05}


def _iso(t):
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


class Postings:
    """All batches of one seeded run, plus the expectations after any
    number of completed ticks."""

    def __init__(self, seed, n_ticks, rows_per_tick=400):
        rng = np.random.default_rng(seed)
        self.ticks = []          # list of (kind, row) lists
        admitted = []            # (posting_id, content, source) admitted so far
        version = defaultdict(int)
        next_id = 0

        def content(pid, rng):
            version[pid] += 1
            body = " ".join(rng.choice(WORDS, int(rng.integers(30, 60))))
            return (f"{TITLES[rng.integers(len(TITLES))]} at company{int(rng.integers(500))} "
                    f"in {CITIES[rng.integers(len(CITIES))]}. {body} [ref {pid} v{version[pid]}]")

        for t in range(n_ticks):
            lo = self.start(t)
            rows, used = [], set()

            def at():
                return lo + timedelta(milliseconds=int(rng.integers(0, STEP // timedelta(milliseconds=1))))

            n = rows_per_tick
            kinds = ["new"] * n
            if t >= 1:
                draws = rng.random(n)
                cut_r, cut_c = SHARES["redelivery"], SHARES["redelivery"] + SHARES["changed"]
                cut_l = cut_c + (SHARES["late"] if t >= 3 else 0.0)
                kinds = ["redelivery" if d < cut_r else "changed" if d < cut_c
                         else "late" if d < cut_l else "new" for d in draws]
            batch_admits = []
            for kind in kinds:
                if kind in ("redelivery", "changed") and admitted:
                    pid, old, src = admitted[int(rng.integers(len(admitted)))]
                    if pid in used:
                        kind = "new"
                    elif kind == "redelivery":
                        rows.append((kind, (pid, old, src, at())))
                        used.add(pid)
                        continue
                    else:
                        c = content(pid, rng)
                        rows.append((kind, (pid, c, src, at())))
                        batch_admits.append((pid, c, src))
                        used.add(pid)
                        continue
                pid = f"p{next_id:07d}"
                next_id += 1
                src = SOURCES[int(rng.integers(len(SOURCES)))]
                c = content(pid, rng)
                when = at()
                if kind == "late":
                    when = lo - timedelta(hours=3) - timedelta(
                        seconds=int(rng.integers(0, 3 * 3600)))
                rows.append((kind if kind == "late" else "new", (pid, c, src, when)))
                batch_admits.append((pid, c, src))
                used.add(pid)
            admitted.extend(batch_admits)
            self.ticks.append(rows)
        self.n_ids = next_id

    @staticmethod
    def start(t):
        """Start of tick t's event-time hour."""
        return T0 + (t - 1) * STEP if t > 0 else T0 - 2 * STEP

    def batch_id(self, t):
        return f"t{t:05d}"

    def file_name(self, t):
        return f"{self.batch_id(t)}.jsonl.gz"

    def event_hi_ms(self, t):
        return int((self.start(t) + STEP).timestamp() * 1000)

    def write(self, out_dir):
        """Write every batch as gzipped JSONL; returns the uncompressed
        input bytes per tick."""
        os.makedirs(out_dir, exist_ok=True)
        sizes = []
        for t, rows in enumerate(self.ticks):
            text = "".join(json.dumps({"posting_id": p, "raw_content": c, "source": s,
                                       "extracted_at": _iso(w)}) + "\n"
                           for _, (p, c, s, w) in rows)
            data = text.encode()
            sizes.append(len(data))
            with gzip.open(os.path.join(out_dir, self.file_name(t)), "wb", compresslevel=1) as f:
                f.write(data)
        return sizes

    def expect(self, n_done):
        """Expected state after ticks [0, n_done): admitted row count,
        silver_current (last write wins per posting_id), gold counts per
        (source, hour) over non-late rows, and the hours certainly closed."""
        seen, admitted = set(), 0
        current, gold = {}, defaultdict(lambda: [0, 0])
        hi = None
        for t in range(n_done):
            for kind, (pid, c, src, when) in self.ticks[t]:
                if c in seen:
                    continue
                seen.add(c)
                admitted += 1
                current[pid] = (c, src, when.replace(microsecond=when.microsecond // 1000 * 1000))
                if kind != "late":
                    g = gold[(src, when.replace(minute=0, second=0, microsecond=0))]
                    g[0] += 1
                    g[1] += len(c)
            if t <= n_done - 3:
                hi = max(w for k, (_, _, _, w) in self.ticks[t] if k != "late")
        closed = set()
        if hi is not None:
            closed = {k for k in gold if k[1] + timedelta(hours=1) <= hi - timedelta(hours=1)}
        return admitted, current, dict(gold), closed

    def read_plan(self, seed, n_boot_ids, count=63, width=50):
        """One gold read, then two silver_current key-range reads, repeated.
        With one of each, the median read latency falls in the gap between
        the slower gold and the faster silver reads, and swings with the
        extremes of both."""
        rng = np.random.default_rng(seed + 7919)
        out = []
        for i in range(count):
            if i % 3 == 0:
                out.append("read gold")
            else:
                x = int(rng.integers(0, max(1, n_boot_ids - width)))
                out.append(f"read silver p{x:07d} p{x + width - 1:07d}")
        return out

    def ids_before(self, t):
        """Posting ids minted in ticks [0, t)."""
        return sum(1 for rows in self.ticks[:t] for k, _ in rows if k in ("new", "late"))

#!/usr/bin/env python3
"""Time the file-system calls a gshard commit makes, and those it avoids.

Usage: python3 scripts/fs_probe.py [--reps N] [--bytes B] [--dir DIR]

In a fresh temp dir on the repository's file system (the system temp dir
when it is on the same device, else the repository's parent dir; --dir
overrides), prints the median, and the quartiles, of N timings of each of:

  - unlinking a never-flushed file (written, closed, not yet written back);
  - unlinking a written-back file (fsync'd, so its blocks are allocated);
  - renaming a fresh file over each of the two;
  - the old head-pointer step: an empty temp file (O_CREAT|O_EXCL), reopened
    with O_TRUNC and written (what `Files.createTempFile` then `Files.write`
    do), then renamed over the previous pointer made the same way;
  - the new head-pointer step: a temp name hard-linked to a fresh commit
    record, then renamed over the pointer, itself a link to the previous
    record.

Only the named step is timed; files are set up outside the timer. On a
file system that frees blocks slowly (ext4 mounted `discard`), the steps
that drop the last link to allocated blocks are the slow ones. The dir is
removed at exit; nothing is written in the repository.
"""
import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def probe_root(override):
    if override:
        return override
    dev = os.stat(REPO).st_dev
    for cand in (tempfile.gettempdir(), str(REPO.parent)):
        if os.stat(cand).st_dev == dev:
            return cand
    sys.exit("fs_probe: no writable dir outside the repository on its "
             "file system; pass --dir")


class Probe:
    def __init__(self, root, payload):
        self.root = root
        self.payload = payload

    def path(self, tag):
        return os.path.join(self.root, f"{tag}-{uuid.uuid4().hex}")

    def write(self, p, flush):
        fd = os.open(p, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
        try:
            os.write(fd, self.payload)
            if flush:
                os.fsync(fd)
        finally:
            os.close(fd)
        return p

    def old_pattern_file(self):
        """createTempFile (empty, O_EXCL), then Files.write: reopen the
        existing inode with O_TRUNC, write, close."""
        p = self.path(".gshard_head")
        os.close(os.open(p, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o600))
        fd = os.open(p, os.O_WRONLY | os.O_CREAT | os.O_TRUNC)
        try:
            os.write(fd, self.payload)
        finally:
            os.close(fd)
        return p


def timed(fn):
    t0 = time.perf_counter()
    fn()
    return (time.perf_counter() - t0) * 1000.0


def run_case(reps, setup, step):
    """setup() -> state, outside the timer; step(state) timed."""
    out = []
    for _ in range(reps):
        s = setup()
        out.append(timed(lambda: step(s)))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=10)
    ap.add_argument("--bytes", type=int, default=4096,
                    help="payload per file (a small manifest)")
    ap.add_argument("--dir", default=None)
    a = ap.parse_args()
    root = tempfile.mkdtemp(prefix="fs_probe_", dir=probe_root(a.dir))
    pr = Probe(root, os.urandom(a.bytes))
    rows = []
    try:
        rows.append(("unlink a never-flushed file", run_case(a.reps,
            lambda: pr.write(pr.path("f"), flush=False), os.unlink)))
        rows.append(("unlink a written-back file", run_case(a.reps,
            lambda: pr.write(pr.path("f"), flush=True), os.unlink)))

        def rename_over(flush):
            def setup():
                return (pr.write(pr.path("src"), flush=False),
                        pr.write(pr.path("dst"), flush=flush))

            def step(s):
                os.rename(s[0], s[1])
            return setup, step

        for flush, name in ((False, "never-flushed"), (True, "written-back")):
            setup, step = rename_over(flush)
            times = run_case(a.reps, setup, step)
            rows.append((f"rename over a {name} file", times))
            for f in os.listdir(root):
                os.unlink(os.path.join(root, f))

        # steady-state head-pointer steps: each step replaces the pointer
        # the previous step left
        ptr = os.path.join(root, "_manifest.gshard")
        os.replace(pr.old_pattern_file(), ptr)
        old = []
        for _ in range(a.reps):
            old.append(timed(lambda: os.replace(pr.old_pattern_file(), ptr)))
        rows.append(("old pointer: temp reopened O_TRUNC, rename over", old))
        os.unlink(ptr)

        def record(gen):
            """linkCommitRecord's shape: write a temp, link the record
            to it, drop the temp name."""
            t = pr.old_pattern_file()
            rec = os.path.join(root, f"_manifest.v{gen}.gshard")
            os.link(t, rec)
            os.unlink(t)
            return rec

        def link_step(rec):
            t = os.path.join(root, f".gshard_head{uuid.uuid4()}.tmp")
            os.link(rec, t)
            os.replace(t, ptr)

        link_step(record(0))
        new = []
        for g in range(1, a.reps + 1):
            rec = record(g)
            new.append(timed(lambda: link_step(rec)))
        rows.append(("new pointer: link to the record, rename over", new))
    finally:
        shutil.rmtree(root, ignore_errors=True)

    print(f"fs_probe: {a.reps} reps, {a.bytes}-byte files, on the "
          "repository's file system")
    for name, ts in rows:
        q = statistics.quantiles(ts, n=4) if len(ts) > 1 else [ts[0]] * 3
        print(f"  {name:<50} median {statistics.median(ts):8.2f} ms"
              f"  (IQR {q[0]:.2f}-{q[2]:.2f})")


if __name__ == "__main__":
    main()

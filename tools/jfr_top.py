#!/usr/bin/env python3
"""Summarise JFR execution samples: where a Spark JVM spends its CPU.

Reads the text that `jfr print` writes for execution samples,

    jfr print --stack-depth 200 --events jdk.ExecutionSample rec.jfr > samples.txt

and reports it two ways:

1. samples by thread class: the driver (every thread that is not an
   executor task thread), executor task threads (`Executor task launch
   worker ...`), and the busiest thread names;
2. for each frame pattern given as an argument (a Python regex matched
   against every frame of a sample's stack), the samples with at least one
   matching frame, as a share of each thread class.

Usage: python3 tools/jfr_top.py samples.txt [PATTERN ...] [--top N]
       jfr print ... | python3 tools/jfr_top.py - [PATTERN ...]

Example, the share of executor time in per-task projection codegen:

    python3 tools/jfr_top.py samples.txt \\
        'Projection\\$?\\.createCodeGeneratedObject' \\
        'CodeFormatter\\$?\\.stripExtraNewLinesAndComments'

Frames print with Scala's `$` (`UnsafeProjection$.createCodeGeneratedObject`).
"""
import collections
import re
import sys

EXECUTOR = re.compile(r"^Executor task launch worker")


def samples(lines):
    """Yield (thread name, [frames]) per jdk.ExecutionSample event."""
    thread, frames, in_stack = None, [], False
    for line in lines:
        s = line.strip()
        if s.startswith("jdk.ExecutionSample"):
            thread, frames, in_stack = None, [], False
        elif s.startswith("sampledThread ="):
            m = re.match(r'sampledThread = "(.*)" \(javaThreadId', s)
            thread = m.group(1) if m else s.split("=", 1)[1].strip()
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack and s and s != "...":
            frames.append(s)
        elif s == "}" and thread is not None:
            yield thread, frames
            thread = None


def thread_class(name):
    return "executor" if EXECUTOR.match(name) else "driver"


def main(argv):
    top = 8
    if "--top" in argv:
        i = argv.index("--top")
        top = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    if not argv:
        sys.exit(__doc__)
    src = sys.stdin if argv[0] == "-" else open(argv[0])
    patterns = [(p, re.compile(p)) for p in argv[1:]]

    total = collections.Counter()
    by_thread = collections.Counter()
    hits = {p: collections.Counter() for p, _ in patterns}
    for thread, frames in samples(src):
        cls = thread_class(thread)
        total[cls] += 1
        # task threads carry the task id in their name; fold them together
        by_thread[re.sub(r"\(TID \d+\)|task [\d.]+ in stage [\d.]+", "*", thread)] += 1
        for p, rx in patterns:
            if any(rx.search(f) for f in frames):
                hits[p][cls] += 1

    n = sum(total.values())
    print(f"samples: {n}")
    for cls in ("driver", "executor"):
        print(f"  {cls:<9} {total[cls]:>7}  {100.0 * total[cls] / max(n, 1):5.1f}%")
    print(f"busiest threads (top {top}):")
    for name, c in by_thread.most_common(top):
        print(f"  {c:>7}  {name}")
    for p, _ in patterns:
        print(f"under /{p}/:")
        for cls in ("driver", "executor"):
            h = hits[p][cls]
            print(f"  {cls:<9} {h:>7} of {total[cls]:>7}  {100.0 * h / max(total[cls], 1):5.1f}%")


if __name__ == "__main__":
    main(sys.argv[1:])

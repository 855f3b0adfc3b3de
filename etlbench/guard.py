"""Workspace guard: a snapshot of every file and directory under some
roots (type, size, mode, mtime) taken before a run and compared after it.
Any path created, modified or deleted outside the excluded work directory
is a violation, ignored paths included.
"""
import os


def snapshot(roots, exclude=()):
    excl = {os.path.abspath(e) for e in exclude}
    snap = {}
    for root in roots:
        root = os.path.abspath(root)
        if not os.path.lexists(root):
            snap[root] = None
            continue
        for d, dirs, files in os.walk(root):
            dirs[:] = [x for x in dirs if os.path.join(d, x) not in excl]
            for name in dirs + files:
                p = os.path.join(d, name)
                try:
                    st = os.lstat(p)
                except FileNotFoundError:
                    continue
                # directories count by existence: their mtime moves whenever
                # the excluded work directory appears or changes
                snap[p] = ("dir",) if name in dirs else (st.st_mode, st.st_size, st.st_mtime_ns)
            snap[d] = ("dir",)
    return snap


def diff(before, after):
    """Sorted list of `created|modified|deleted <path>` lines."""
    out = []
    for p in sorted(set(before) | set(after)):
        a, b = before.get(p, "absent"), after.get(p, "absent")
        if a == b:
            continue
        if a in ("absent", None):
            out.append(f"created {p}")
        elif b in ("absent", None):
            out.append(f"deleted {p}")
        else:
            out.append(f"modified {p}")
    return out

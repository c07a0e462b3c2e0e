"""Seeded git fleet for the ``git_etl_fleet`` workload.

A fleet is one monorepo plus a set of small repos, written with
``git fast-import`` from a seeded generator. Every timestamp and
identity comes from the seed, so the same seed always gives the same
HEAD SHAs. Each repo is generated with its full history; the last
commits of a few repos are "pending": ``main`` starts at the base
commit and :func:`append` moves it to the tip (plus the tags that
point at the new commits), which is what a ``git pull`` of new work
looks like to the ETL. :func:`reset` moves it back, so every
iteration starts from the same base without regenerating anything.

The ground-truth ledger is read from git itself (``rev-list``,
``log --shortstat``, ``for-each-ref``), never from the generator, so
it checks the ETL independently of how the history was written.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
from collections import Counter
from dataclasses import dataclass

AUTHORS = 40


@dataclass(frozen=True)
class Spec:
    """Fleet shape. Only the contents depend on the seed, never the
    sizes, so every seed asks the ETL for the same amount of work."""

    mono_commits: int
    mono_append: int
    small_repos: int
    small_commits: int
    small_append: int
    # small repos that receive new commits on append (the monorepo always does)
    appended_small: int


# ~1% new commits on the monorepo; the small repos expose per-repo costs
FLEET = Spec(1500, 15, 4, 120, 5, 2)

EXTENSIONS = ("py", "ts", "go", "rs", "java", "c", "rb", "sh", "md", "txt")
WORDS = (
    "alpha beta gamma delta parse merge scan table commit author tag "
    "refactor fix add remove update cache index query plan stage"
).split()

_BASE_EPOCH = 1_500_000_000


@dataclass
class Repo:
    name: str
    path: str
    base: str
    tip: str
    pending_tags: dict[str, str]


def _git(repo: str, *args: str, stdin: str | None = None, env=None) -> str:
    return subprocess.run(
        ["git", "-C", repo, *args],
        input=stdin,
        capture_output=True,
        text=True,
        check=True,
        env=env,
    ).stdout


# no user or system config for any git call, the program's included, so
# git's defaults (rename detection on) hold for the ETL and the ledger alike
GIT_ENV = {
    "GIT_CONFIG_GLOBAL": os.devnull,
    "GIT_CONFIG_NOSYSTEM": "1",
    "GIT_TERMINAL_PROMPT": "0",
}


def git_env() -> dict[str, str]:
    return {**os.environ, **GIT_ENV}


def _authors(seed: int) -> list[tuple[str, str]]:
    rng = random.Random(f"{seed}:authors")
    out = []
    for i in range(AUTHORS):
        first = rng.choice(["Ada", "Bo", "Cy", "Di", "Eli", "Fay", "Gus", "Hal"])
        out.append((f"{first} Dev{i}", f"dev{i}.{rng.randrange(10**6)}@example.org"))
    return out


def _stream(seed: int, name: str, n_commits: int, n_pending: int) -> tuple[str, dict]:
    """fast-import stream for one repo, plus the marks of interest."""
    rng = random.Random(f"{seed}:{name}")
    people = _authors(seed)
    team = rng.sample(people, k=min(len(people), 4 + rng.randrange(12)))
    exts = [rng.choice(EXTENSIONS)] * 3 + list(EXTENSIONS)
    files: dict[str, list[str]] = {}
    out: list[str] = []
    t = _BASE_EPOCH + rng.randrange(10**7)
    mark = 0
    marks = {"main": [], "tags": []}

    def data(text: str) -> None:
        raw = text.encode()
        out.append(f"data {len(raw)}\n")
        out.append(text)
        out.append("\n")

    def words(k: int) -> str:
        return " ".join(rng.choice(WORDS) for _ in range(k))

    def edit() -> list[str]:
        """One to three file operations (add, modify, rename, delete)."""
        ops = []
        for _ in range(1 + rng.randrange(3)):
            roll = rng.random()
            if not files or roll < 0.15:
                d = f"{rng.choice(['src', 'lib', 'docs', 'tests', 'cmd'])}/m{rng.randrange(40)}"
                path = f"{d}/{words(1)}_{rng.randrange(1000)}.{rng.choice(exts)}"
                if rng.random() < 0.05:
                    path = path.replace("_", " ", 1)  # a path with a space
                if path in files:
                    continue
                files[path] = [words(6) for _ in range(5 + rng.randrange(40))]
            elif roll < 0.20 and len(files) > 3:
                path = rng.choice(sorted(files))
                new = f"{path.rsplit('/', 1)[0]}/renamed_{rng.randrange(10**6)}.{path.rsplit('.', 1)[-1]}"
                if new in files:
                    continue
                files[new] = files.pop(path)
                ops.append(f'R "{path}" "{new}"\n')
                continue
            elif roll < 0.23 and len(files) > 3:
                path = rng.choice(sorted(files))
                del files[path]
                ops.append(f'D "{path}"\n')
                continue
            else:
                path = rng.choice(sorted(files))
                lines = files[path]
                at = rng.randrange(len(lines) + 1)
                drop = min(rng.randrange(6), len(lines) - at)
                lines[at : at + drop] = [words(6) for _ in range(1 + rng.randrange(8))]
                if len(lines) > 200:
                    del lines[:50]
            body = "\n".join(files[path]) + "\n"
            raw = body.encode()
            ops.append(f'M 100644 inline "{path}"\ndata {len(raw)}\n{body}\n')
        return ops

    def commit(ref: str, parents: list[int], ops: list[str]) -> int:
        nonlocal mark, t
        mark += 1
        t += 60 + rng.randrange(86_400)
        author = rng.choice(team)
        who = f"{author[0]} <{author[1]}> {t} +0000"
        out.append(f"commit {ref}\nmark :{mark}\nauthor {who}\ncommitter {who}\n")
        data(f"{rng.choice(['Fix', 'Add', 'Update', 'Refactor'])} {words(4)}")
        if parents:
            out.append(f"from :{parents[0]}\n")
        for p in parents[1:]:
            out.append(f"merge :{p}\n")
        out.extend(ops)
        out.append("\n")
        return mark

    head = 0
    for i in range(n_commits):
        if head and i % 40 == 39:
            # a topic commit merged into main; the merge itself has no numstat
            ops = edit()
            topic = commit("refs/heads/topic", [head], ops)
            # same tree as the topic commit, so the generator's file state
            # stays the tree of main
            head = commit("refs/heads/main", [head, topic], ops)
        else:
            head = commit("refs/heads/main", [head] if head else [], edit())
        marks["main"].append(head)
        if i % 25 == 24:
            tag = f"v{i // 25}.{rng.randrange(10)}.{rng.randrange(10)}"
            if rng.random() < 0.5:
                who = rng.choice(team)
                out.append(
                    f"tag {tag}\nfrom :{head}\n"
                    f"tagger {who[0]} <{who[1]}> {t + 30} +0000\n"
                )
                msg = f"Release {tag}"
                data(msg + (f"\n\n{words(8)}" if rng.random() < 0.5 else ""))
            else:
                out.append(f"reset refs/tags/{tag}\nfrom :{head}\n\n")
            marks["tags"].append((tag, i))
    marks["base"] = marks["main"][n_commits - n_pending - 1]
    marks["tip"] = head
    marks["pending_tags"] = [
        tag for tag, i in marks["tags"] if i >= n_commits - n_pending
    ]
    return "".join(out), marks


def _make_repo(seed: int, root: str, name: str, n: int, n_pending: int) -> Repo:
    path = os.path.join(root, name)
    env = git_env()
    subprocess.run(
        ["git", "init", "-q", "-b", "main", path], check=True, env=env,
        capture_output=True,
    )
    stream, marks = _stream(seed, name, n, n_pending)
    marks_file = os.path.join(path, ".git", "perfbench-marks")
    _git(path, "fast-import", "--quiet", f"--export-marks={marks_file}",
         stdin=stream, env=env)
    by_mark = {}
    with open(marks_file) as f:
        for line in f:
            m, sha = line.split()
            by_mark[int(m[1:])] = sha
    os.remove(marks_file)
    pending = {
        tag: _git(path, "rev-parse", f"refs/tags/{tag}", env=env).strip()
        for tag in marks["pending_tags"]
    }
    return Repo(name, path, by_mark[marks["base"]], by_mark[marks["tip"]], pending)


def _move(repo: Repo, to_tip: bool) -> None:
    env = git_env()
    ops = [f"update refs/heads/main {repo.tip if to_tip else repo.base}"]
    for tag, sha in repo.pending_tags.items():
        ops.append(f"update refs/tags/{tag} {sha}" if to_tip else f"delete refs/tags/{tag}")
    _git(repo.path, "update-ref", "--stdin", stdin="\n".join(ops) + "\n", env=env)
    # the ETL's language detection lists tracked files from the index
    _git(repo.path, "read-tree", "main", env=env)


def reset(repos: list[Repo]) -> None:
    for r in repos:
        _move(r, to_tip=False)


def append(repos: list[Repo]) -> None:
    for r in repos:
        if r.tip != r.base:
            _move(r, to_tip=True)


def _ledger(repos: list[Repo]) -> dict:
    """Ground truth for the current refs, from git alone."""
    env = git_env()
    authors: Counter = Counter()
    tot = Counter()
    for r in repos:
        tot["commits"] += int(_git(r.path, "rev-list", "--count", "main", env=env))
        tot["merge_commits"] += int(
            _git(r.path, "rev-list", "--merges", "--count", "main", env=env)
        )
        stats = _git(r.path, "log", "--shortstat", "--format=", "main", env=env)
        for line in filter(str.strip, stats.splitlines()):
            for part in line.split(","):
                n, what = part.split()[:2]
                if what.startswith("file"):
                    tot["files_changed"] += int(n)
                elif what.startswith("insertion"):
                    tot["additions"] += int(n)
                elif what.startswith("deletion"):
                    tot["deletions"] += int(n)
        tot["tags"] += len(_git(r.path, "for-each-ref", "refs/tags", "--format=%(refname)", env=env).split())
        authors.update(_git(r.path, "log", "--format=%ae", "main", env=env).split())
    return {**tot, "authors": dict(sorted(authors.items()))}


def build(seed: int, root: str, spec: Spec = FLEET) -> tuple[list[Repo], dict]:
    """Generate the ``spec`` fleet for ``seed`` under ``root`` (or reuse it) and
    return its repos and the ledgers for the base and tip states.
    ``manifest.json`` is written last, so a half-built fleet is rebuilt."""
    manifest = os.path.join(root, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            m = json.load(f)
        return [Repo(**r) for r in m["repos"]], m["ledger"]
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    rng = random.Random(f"{seed}:fleet")
    appended = set(rng.sample(range(spec.small_repos), spec.appended_small))
    repos = [_make_repo(seed, root, "monorepo", spec.mono_commits, spec.mono_append)]
    for i in range(spec.small_repos):
        repos.append(
            _make_repo(seed, root, f"svc-{i:02d}", spec.small_commits,
                       spec.small_append if i in appended else 0)
        )
    reset(repos)
    ledger = {"base": _ledger(repos)}
    append(repos)
    ledger["tip"] = _ledger(repos)
    reset(repos)
    with open(manifest + ".tmp", "w") as f:
        json.dump({"repos": [r.__dict__ for r in repos], "ledger": ledger}, f)
    os.replace(manifest + ".tmp", manifest)
    return repos, ledger

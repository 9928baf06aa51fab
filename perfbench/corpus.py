"""Seeded git corpus generator for the ETL workloads, built on `git fast-import`.

A corpus directory holds `repos/` (the directory the ETL scans) and
`config.toml` (the author map and ignore list). `repos/` contains
dozens of small repositories, one giant repository (the straggler),
one ignored repository and one plain directory that is not a
repository. Histories carry merge commits (which the ETL must exclude),
exact renames, non-ASCII paths and authors whose e-mail the author map
renames.

`mutate` applies one refresh round: it appends commits to a minority of
repositories, rewinds one repository (its old head stops being an
ancestor of the new one) and adds one new repository.

Usage:
  python3 perfbench/corpus.py make <dir> <seed> <shape>
  python3 perfbench/corpus.py mutate <dir> <seed> <round>
"""
import os
import random
import subprocess
import sys

# shape -> (small repos, min commits, max commits, giant repo commits);
# the small repos' sizes are spread evenly over [min, max], so every
# seed gives a corpus of the same size
SHAPES = {
    "full": (12, 50, 250, 1500),
    "refresh": (6, 40, 120, 400),
    "warmup": (2, 20, 40, 60),
}
AUTHORS = [
    ("Alice Example", "alice@example.com"),
    ("Bob Builder", "bob@example.com"),
    ("Chloé Durand", "chloe@example.fr"),
    ("Dmitri Иванов", "dmitri@example.ru"),
    ("Eve Ops", "eve@example.com"),
    ("王 芳", "fang@example.cn"),
    ("alice", "alice.alias@example.com"),
    ("B. Builder", "bb@old.example.com"),
]
AUTHOR_MAP = {
    "alice.alias@example.com": "Alice Example",
    "bb@old.example.com": "Bob Builder",
}
DIRS = ["src", "docs", "tests", "lib/core", "données", "数据"]
STEMS = ["main", "util", "parser", "résumé", "表", "index", "readme", "config"]
GIT_ENV = {**os.environ, "LC_ALL": "C.UTF-8", "GIT_CONFIG_NOSYSTEM": "1",
           "GIT_CONFIG_GLOBAL": os.devnull}


def git(repo, *args, stdin=None):
    return subprocess.run(["git", "-C", repo, *args], input=stdin, env=GIT_ENV,
                          check=True, capture_output=True).stdout


class Stream:
    """Builds one fast-import stream for one repository."""

    def __init__(self, rng, t0):
        self.rng, self.t, self.out, self.mark = rng, t0, [], 0
        self.files = {}  # path -> list of lines on the master branch

    def blob(self, text):
        data = text.encode()
        self.out.append(b"data %d\n" % len(data) + data + b"\n")

    def header(self, ref, msg, parents):
        self.mark += 1
        self.t += self.rng.randint(60, 20000)
        name, email = self.rng.choice(AUTHORS)
        ident = f"{name} <{email}> {self.t} +0000"
        self.out.append(f"commit {ref}\nmark :{self.mark}\nauthor {ident}\ncommitter {ident}\n".encode())
        self.blob(msg)
        if parents:
            self.out.append(f"from {parents[0]}\n".encode())
        for p in parents[1:]:
            self.out.append(f"merge {p}\n".encode())
        return f":{self.mark}"

    def put(self, path, lines):
        self.files[path] = lines
        self.out.append(f"M 100644 inline {path}\n".encode())
        self.blob("".join(line + "\n" for line in lines))

    def new_path(self):
        while True:
            p = f"{self.rng.choice(DIRS)}/{self.rng.choice(STEMS)}_{self.rng.randint(0, 999)}.txt"
            if p not in self.files:
                return p

    def edit(self):
        """One ordinary change: edit, add, rename or delete files."""
        r = self.rng.random()
        if not self.files or r < 0.2:
            self.put(self.new_path(), [f"line {self.rng.random():.6f}" for _ in range(self.rng.randint(1, 30))])
        elif r < 0.27:  # exact rename: content unchanged
            old = self.rng.choice(sorted(self.files))
            new = self.new_path()
            self.files[new] = self.files.pop(old)
            self.out.append(f"R {old} {new}\n".encode())
        elif r < 0.3 and len(self.files) > 3:
            old = self.rng.choice(sorted(self.files))
            del self.files[old]
            self.out.append(f"D {old}\n".encode())
        else:
            for path in self.rng.sample(sorted(self.files), min(len(self.files), self.rng.randint(1, 4))):
                lines = list(self.files[path])
                cut = self.rng.randint(0, min(5, len(lines)))
                start = self.rng.randint(0, len(lines) - cut)
                del lines[start:start + cut]
                lines += [f"edit {self.rng.random():.6f}" for _ in range(self.rng.randint(0, 8))]
                self.put(path, lines)

    def history(self, n_commits, base=None, merge_every=40):
        """`n_commits` commits on master (merges included), starting at `base`."""
        head = base
        i = 0
        while i < n_commits:
            if i and i % merge_every == 0 and n_commits - i > 3:
                side = [head]
                for k in range(2):
                    side.append(self.header("refs/heads/side", f"side work {i}.{k}\n", [side[-1]]))
                    self.put(f"side/{i}_{k}.txt", [f"side {i} {k}"])
                head = self.header("refs/heads/master", f"Merge side {i}\n", [head, side[-1]])
                for k in range(2):
                    self.put(f"side/{i}_{k}.txt", [f"side {i} {k}"])
                i += 3
                continue
            head = self.header("refs/heads/master", f"change {i}: {self.rng.random():.8f}\n\nbody line\n",
                               [head] if head else [])
            self.edit()
            i += 1
        return head

    def bytes(self):
        return b"".join(self.out)


def import_into(repo, stream):
    git(repo, "fast-import", "--quiet", "--force", stdin=stream.bytes())


def make_repo(path, rng, n_commits, remote):
    os.makedirs(path)
    git(path, "init", "-q", "-b", "master")
    if remote:
        git(path, "config", "remote.origin.url", remote)
    s = Stream(rng, 1_500_000_000 + rng.randint(0, 10_000_000))
    s.history(n_commits)
    import_into(path, s)


def make(root, seed, shape):
    n_small, lo, hi, giant = SHAPES[shape]
    rng = random.Random(f"{seed}-{shape}")
    repos = os.path.join(root, "repos")
    os.makedirs(repos)
    sizes = [lo + (hi - lo) * i // max(1, n_small - 1) for i in range(n_small)]
    rng.shuffle(sizes)
    for i, size in enumerate(sizes):
        remote = f"git@github.com:bench/r{i:02d}.git" if i % 3 == 0 else None
        make_repo(os.path.join(repos, f"r{i:02d}"), rng, size, remote)
    make_repo(os.path.join(repos, "giant"), rng, giant, "https://example.com/giant.git")
    make_repo(os.path.join(repos, "vendored"), rng, 20, None)
    os.makedirs(os.path.join(repos, "not-a-repo"))
    with open(os.path.join(repos, "not-a-repo", "notes.txt"), "w") as f:
        f.write("plain directory\n")
    with open(os.path.join(root, "config.toml"), "w") as f:
        f.write('ignored_repositories = ["vendored"]\n[author_map]\n')
        for email, name in AUTHOR_MAP.items():
            f.write(f'"{email}" = "{name}"\n')


def repo_dirs(root):
    repos = os.path.join(root, "repos")
    return sorted(os.path.join(repos, d) for d in os.listdir(repos)
                  if d != "vendored" and os.path.isdir(os.path.join(repos, d, ".git")))


def append(repo, rng, n, rewind_by=0):
    s = Stream(rng, int(git(repo, "log", "-1", "--format=%ct", "HEAD")) + 1)
    tip = git(repo, "rev-parse", f"HEAD~{rewind_by}").decode().strip()
    # known files at the tip, so edits and renames apply to real paths
    listing = git(repo, "ls-tree", "-r", "-z", "--name-only", tip).decode()
    s.files = {p: ["(existing)"] for p in listing.split("\0") if p}
    s.history(n, base=tip, merge_every=15)
    import_into(repo, s)


def mutate(root, seed, rnd):
    """One refresh round: appends, one rewind and one new repository.
    The amounts are fixed; the seed picks the repositories and content."""
    rng = random.Random(f"{seed}-round-{rnd}")
    repos = repo_dirs(root)
    for repo in rng.sample(repos, max(1, len(repos) // 5)):
        append(repo, rng, 30)
    append(rng.choice(repos), rng, 12, rewind_by=4)
    make_repo(os.path.join(root, "repos", f"new{rnd:03d}"), rng, 50, None)


if __name__ == "__main__":
    cmd, where, seed = sys.argv[1], sys.argv[2], int(sys.argv[3])
    if cmd == "make":
        make(where, seed, sys.argv[4])
    elif cmd == "mutate":
        mutate(where, seed, int(sys.argv[4]))
    else:
        sys.exit(f"unknown command {cmd}")

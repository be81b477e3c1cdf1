"""Builds the repository and the benchmark harness from source with sbt,
once per source fingerprint, and returns the runtime classpath.

sbt compiles into mutable class directories that hold whatever it built
last, so each build copies them into `<work>/build/<fingerprint>/` and the
cached classpath names those copies: a fingerprint always runs its own
classes, even after the tree has been built at other sources."""
import hashlib
import os
import shutil
import subprocess

# what a build depends on, relative to the repository root
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties",
           "perfbench/harness/src"]


class BuildError(RuntimeError):
    pass


def source_fingerprint(repo):
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(repo, rel)
        if not os.path.exists(path):
            raise BuildError(f"missing {rel}: run from a full checkout of the repository")
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, repo).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def sbt_env(tmp):
    """The repository's offline sbt settings, with sbt's scratch files in
    the work root."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp}"
    return env


def classpath(repo, work, log):
    """(source fingerprint, classpath) of the built harness; builds when
    no complete build of these sources is cached."""
    fp = source_fingerprint(repo)
    stamp = os.path.join(work, "build", f"{fp}.classpath")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cp = f.read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return fp, cp
    tmp = os.path.join(work, "tmp")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    log(f"building (source fingerprint {fp}) ...")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=os.path.join(repo, "perfbench", "harness"), env=sbt_env(tmp),
        stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines()
             if "perfbench/harness/target" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        raise BuildError("sbt build failed:\n" + proc.stdout[-3000:] + proc.stderr[-2000:])
    cp = freeze(lines[-1].strip().split(os.pathsep), os.path.join(work, "build", fp))
    with open(stamp + ".part", "w") as f:
        f.write(cp)
    os.replace(stamp + ".part", stamp)
    return fp, cp


def freeze(entries, dest):
    """The classpath with every class directory replaced by a copy under
    `dest`; jars are immutable and stay where they are."""
    shutil.rmtree(dest, ignore_errors=True)
    frozen = []
    for i, entry in enumerate(entries):
        if os.path.isdir(entry):
            copy = os.path.join(dest, f"{i:03d}")
            shutil.copytree(entry, copy)
            entry = copy
        frozen.append(entry)
    return os.pathsep.join(frozen)

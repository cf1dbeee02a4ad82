"""Build the benchmark JVM from the checkout's sources and prepare the
store: compile with sbt, record the classpath, and build the ETL layout
into the benchmark's own cache root once per version of the engine."""
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(BENCH_DIR)

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "4g"


def build_root():
    """Where builds, the ETL cache and run directories go (in the checkout)."""
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def engine_sources():
    return os.path.join(REPO, "src", "main", "scala")


def default_data():
    """The store tables graft.Bench reads: $SPARK_GRAFT_SF_DIR, else the
    default written in Bench.scala. None when neither is there."""
    if "SPARK_GRAFT_SF_DIR" in os.environ:
        return os.environ["SPARK_GRAFT_SF_DIR"]
    try:
        with open(os.path.join(engine_sources(), "graft", "Bench.scala")) as f:
            m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', f.read())
    except OSError:
        return None
    return m.group(1) if m else None


def source_digest(engine_only=False):
    """Digest of every file the build reads, to know when to rebuild; with
    `engine_only`, of the engine's sources, which alone shape the ETL."""
    h = hashlib.sha256()
    roots = [engine_sources()]
    if not engine_only:
        roots += [os.path.join(BENCH_DIR, "src"),
                  os.path.join(BENCH_DIR, "build.sbt"),
                  os.path.join(BENCH_DIR, "project", "build.properties")]
    for root in roots:
        files = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for f in sorted(files):
            h.update(os.path.relpath(f, REPO).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" +
                       os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g")
    return env


def ensure_built(log):
    """Compile if the sources changed since the last build; return the
    runtime classpath."""
    root = build_root()
    os.makedirs(root, exist_ok=True)
    stamp = os.path.join(root, "build.stamp")
    cp_file = os.path.join(root, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    with open(os.path.join(root, "build.log"), "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH_DIR, env=sbt_env(), stdout=subprocess.PIPE,
            stderr=out, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        log("sbt build failed:\n" + proc.stdout[-4000:])
        sys.exit(3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def java_cmd(cp, home, args):
    tmp = os.path.join(build_root(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-Xms" + HEAP, "-Xmx" + HEAP, "-Duser.home=" + home,
             "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
             "-cp", cp, "cmbench.Main"] + args)


def etl_home():
    return os.path.join(build_root(), "home")


def etl_root():
    return os.path.join(etl_home(), ".cache", "graft", "store_etl")


def etl_cold_file():
    return os.path.join(build_root(), "etl_cold.json")


def ensure_prepared(cp, data, cpus, log):
    """Build the store's ETL layout before any measured run, and record how
    long the cold build took. Done again whenever the engine's sources
    differ from those of the last preparation, so the layout and
    `model.etl_cold_s` always belong to the engine being measured."""
    digest = source_digest(engine_only=True)
    try:
        with open(etl_cold_file()) as f:
            if json.load(f).get("sources") == digest:
                return
    except (OSError, ValueError):
        pass
    # a layout left by an older engine or an interrupted preparation would
    # make the timing warm
    shutil.rmtree(etl_home(), ignore_errors=True)
    local = os.path.join(build_root(), "spark-local")
    os.makedirs(local, exist_ok=True)
    out_file = etl_cold_file() + ".tmp"
    with open(os.path.join(build_root(), "prepare.log"), "w") as out:
        rc = subprocess.run(
            java_cmd(cp, etl_home(), ["--mode", "prepare", "--data", data,
                                       "--cpus", str(cpus),
                                       "--local-dir", local,
                                       "--out", out_file]),
            stdout=out, stderr=subprocess.STDOUT, timeout=840).returncode
    shutil.rmtree(local, ignore_errors=True)
    if rc != 0:
        log("store preparation failed; see prepare.log")
        sys.exit(3)
    with open(out_file) as f:
        cold = json.load(f)
    os.remove(out_file)
    cold["sources"] = digest
    with open(etl_cold_file(), "w") as f:
        json.dump(cold, f)

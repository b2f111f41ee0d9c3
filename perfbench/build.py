"""Build file of the benchmark.

Compiles the engine (`src/main/scala`) and the benchmark's JVM harness
(`perfbench/scala`) in one `scalac` pass against the Spark distribution in
`$SPARK_HOME/jars` (which also ships the Scala 2.13 compiler) and packs
the classes into `.bench_build/perfbench/perfbench.jar`. The jar is
reused while no source file changes.

    python3 perfbench/build.py        # build (or confirm up to date)
"""

import hashlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"
JAR = BUILD / "perfbench.jar"
STAMP = BUILD / "build.digest"
# Class-data sharing archive: takes several seconds off every JVM start.
# Recording it slows the recording JVM by about a fifth, so a priming
# run of the build records it rather than a measured run.
ARCHIVE = BUILD / "perfbench.jsa"
PRIME_TIMEOUT_S = 300
LOG4J = Path(__file__).resolve().parent / "log4j2.properties"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(RuntimeError):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("SPARK_HOME must point at a Spark 4 distribution with jars/")
    return Path(home) / "jars"


def sources() -> list:
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise BuildError(f"no engine sources under {ROOT / 'src/main/scala'}")
    bench = sorted((ROOT / "perfbench" / "scala").rglob("*.scala"))
    return engine + bench


def digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def jvm_command(work: Path, args: list, record_archive: bool = False) -> list:
    """The harness JVM: C1-compiled code only, Spark's JDK 17 module
    opens, scratch files under `work`, log4j at WARN, and the class-data
    archive: recorded by the priming run of the build, used by every
    later run when present."""
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    if record_archive:
        cds = [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]
    else:
        cds = [f"-XX:SharedArchiveFile={ARCHIVE}"] if ARCHIVE.is_file() else []
    # C1 only: warm operations still run freshly generated classes, and
    # with C2 their pass times kept falling for over a minute at a pace
    # that followed the host's speed, so whole runs differed by up to 70%.
    # Under C1 pass times are flat from the first warm pass on.
    return (["java", "-Xmx3g", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work / 'tmp'}",
             f"-Dlog4j2.configurationFile={LOG4J}"] + opens + cds +
            ["-cp", f"{JAR}:{spark_jars()}/*", "perfbench.Main", "--work", str(work)] + args)


def run_jvm(cmd: list, log_path: Path, timeout: float) -> int:
    """Run a JVM in its own process group; kill the group on timeout and
    wait for it, so nothing outlives the caller."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def compile_jar(files: list) -> None:
    """Compile into a private directory and publish the jar by an atomic
    rename, so an interrupted build never leaves a partial jar."""
    work = Path(tempfile.mkdtemp(prefix="build-", dir=BUILD))
    try:
        out = work / "classes"
        out.mkdir()
        argfile = work / "sources.txt"
        argfile.write_text("\n".join(str(f) for f in files) + "\n")
        cp = f"{spark_jars()}/*"
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
               "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
               "-classpath", cp, f"@{argfile}"]
        res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             text=True)
        if res.returncode != 0:
            raise BuildError("scalac failed:\n" + res.stdout[-4000:])
        resources = ROOT / "src" / "main" / "resources"
        if resources.is_dir():
            shutil.copytree(resources, out, dirs_exist_ok=True)
        jar = work / "perfbench.jar"
        with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
            for f in sorted(out.rglob("*")):
                if f.is_file():
                    z.write(f, f.relative_to(out).as_posix())
        os.replace(jar, JAR)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def prime(log) -> None:
    """Record the class-data archive in a short run over every workload
    (`perfbench.Main --prime`). Without it runs start without sharing,
    so a failure here only costs start-up time."""
    work = BUILD / "prime"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    print("perfbench: recording the class-data archive", file=log, flush=True)
    try:
        rc = run_jvm(jvm_command(work, ["--prime"], record_archive=True), work / "jvm.log",
                     PRIME_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = -1
    if rc != 0:
        ARCHIVE.unlink(missing_ok=True)
        print(f"perfbench: priming failed ({rc}); see {work / 'jvm.log'}", file=log, flush=True)
    shutil.rmtree(work / "tmp", ignore_errors=True)


def build(log=sys.stderr) -> str:
    """Compile and pack when the source digest changed; return the
    digest."""
    files = sources()
    spark_jars()
    want = digest(files)
    if JAR.is_file() and STAMP.is_file() and STAMP.read_text() == want:
        return want
    BUILD.mkdir(parents=True, exist_ok=True)
    for f in [STAMP, JAR] + list(BUILD.glob("*.jsa")):
        f.unlink(missing_ok=True)
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    compile_jar(files)
    prime(log)
    STAMP.write_text(want)
    return want


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)

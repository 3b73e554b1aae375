"""Build file of the benchmark: compiles the program (src/main) and the
benchmark harness (perfbench/harness) with the Scala compiler that ships in
the Spark distribution, into .bench_build/program-<hash> and
.bench_build/harness-<hash>.

A build is reused while no source file changes. Usage:
    python3 perfbench/build.py      # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The Spark distribution's jars, $SPARK_HOME/jars."""
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home or "$SPARK_HOME", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit(f"build: no Spark distribution jars at {jars!r} (set SPARK_HOME)")
    return jars


def _sources(top, exts):
    found = []
    for dirpath, dirs, files in os.walk(top):
        dirs.sort()
        found += [os.path.join(dirpath, f) for f in sorted(files) if f.endswith(exts)]
    return found


def _scalac(sources, dest, classpath):
    os.makedirs(dest)
    argfile = dest + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", dest, "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed for {dest}")


def _digest(files, salt):
    h = hashlib.sha256(salt.encode())
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def _cached(kind, key, make):
    """Output dir .bench_build/<kind>-<key>, made by `make` unless a finished
    one exists; stale or half-finished dirs of the same kind are removed."""
    dest = os.path.join(OUT, f"{kind}-{key}")
    if os.path.exists(dest + ".ok"):
        return dest
    if os.path.isdir(OUT):
        for name in os.listdir(OUT):
            if name.startswith(kind + "-"):
                p = os.path.join(OUT, name)
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    make(dest)
    open(dest + ".ok", "w").close()
    return dest


def build():
    """Compile if needed; return the classpath that runs perfbench.Main."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    resources = os.path.join(ROOT, "src", "main", "resources")
    program = _sources(main_src, (".scala", ".java"))
    harness = _sources(os.path.join(HERE, "harness"), (".scala",))
    if not program:
        raise SystemExit(f"build: no program sources under {main_src}")
    if not harness:
        raise SystemExit("build: no harness sources under perfbench/harness")
    extra = _sources(resources, ("",)) if os.path.isdir(resources) else []
    jars = os.path.join(spark_jars(), "*")
    prog_key = _digest(program + extra, " ".join(sorted(os.listdir(spark_jars()))))

    def make_program(dest):
        _scalac(program, dest, jars)
        if extra:
            shutil.copytree(resources, dest, dirs_exist_ok=True)

    prog_dir = _cached("program", prog_key, make_program)
    harness_dir = _cached("harness", _digest(harness, prog_key), lambda dest: _scalac(
        harness, dest, os.pathsep.join([prog_dir, jars])))
    return os.pathsep.join([harness_dir, prog_dir, jars])


if __name__ == "__main__":
    print(build())

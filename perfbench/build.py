"""Builds the program and the benchmark from source.

Compiles the repository's `src/main/scala` together with
`perfbench/src` with the Scala compiler that ships in Spark's `jars`
directory (`$SPARK_HOME`, or found from `spark-submit` on the PATH), so
no build tool or network access is needed. The classes land in
`<out>/classes-<hash of the sources>`; an unchanged tree is not rebuilt.

Usage: python3 perfbench/build.py <repo root> <out dir>
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

VERSION = "1"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on the PATH")
        home = Path(os.path.realpath(submit)).parent.parent
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler under {jars}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources(root):
    main = Path(root) / "src" / "main"
    if not (main / "scala").is_dir():
        raise SystemExit(f"perfbench: no program sources under {main / 'scala'}")
    if any(main.rglob("*.java")):
        raise SystemExit("perfbench: Java sources are not supported by build.py")
    files = sorted((main / "scala").rglob("*.scala"))
    return files + sorted((Path(root) / "perfbench" / "src").rglob("*.scala"))


def classpath(root, classes):
    """Runtime classpath: the built classes, resources, Spark's jars."""
    parts = [str(classes)]
    res = Path(root) / "src" / "main" / "resources"
    if res.is_dir():
        parts.append(str(res))
    parts.append(str(spark_jars() / "*"))
    return os.pathsep.join(parts)


def build(root, out):
    files = sources(root)
    h = hashlib.sha256(VERSION.encode())
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    out = Path(out)
    classes = out / f"classes-{h.hexdigest()[:16]}"
    if classes.is_dir():
        return classes
    out.mkdir(parents=True, exist_ok=True)
    for old in out.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = out / "scalac.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    jars = str(spark_jars() / "*")
    cmd = [java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out}", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-encoding", "UTF-8",
           "-d", str(tmp), "-classpath", jars, f"@{argfile}"]
    print(f"perfbench: compiling {len(files)} source files", file=sys.stderr)
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    print(build(Path(sys.argv[1]).resolve(), Path(sys.argv[2]).resolve()))

"""PySpark daemon entry that starts Python workers on the installed
pyspark instead of the Spark archives on their path (why: session.py)."""
import importlib.machinery
import os
import re
import sys
import zipfile

_ARCHIVE = re.compile(r"pyspark\.zip|py4j-.+-src\.zip|.+\.jar")


def installed_path(path: list[str]) -> list[str]:
    """``path`` without pyspark.zip, the py4j source zip and jars when an
    installed pyspark with the zip's ``version.py`` and a py4j import
    without them; else ``path``. Any doubt (unreadable zip) keeps ``path``."""
    rest = [p for p in path if not _ARCHIVE.fullmatch(os.path.basename(p))]
    find = importlib.machinery.PathFinder.find_spec
    try:
        origin = os.path.dirname(find("pyspark", rest).origin)
        with open(os.path.join(origin, "version.py"), "rb") as f:
            installed = f.read()
        for p in path:
            if os.path.basename(p) == "pyspark.zip":
                with zipfile.ZipFile(p) as z:
                    if z.read("pyspark/version.py") != installed:
                        return path
    except (OSError, KeyError, AttributeError, TypeError, zipfile.BadZipFile):
        return path
    return rest if find("py4j", rest) else path


if __name__ == "__main__":
    kept = installed_path(sys.path)
    dropped = tuple(p for p in sys.path if p not in kept)
    # an archive's namespace package (the jar's ``org``, looked up by
    # ``copy``) would bring its importer back: evict it before sys.path
    # changes, which its __path__ recomputes from
    for name, mod in list(sys.modules.items()):
        paths = list(getattr(mod, "__path__", None) or [])
        if getattr(mod, "__file__", None) is None and paths and all(
            p.startswith(dropped) for p in paths
        ):
            del sys.modules[name]
    sys.path[:] = kept
    for key in [k for k in sys.path_importer_cache if k.startswith(dropped)]:
        del sys.path_importer_cache[key]
    from pyspark.daemon import manager

    manager()

"""No environment-variable knobs in the package: behaviour is set through
EngineConfig and function arguments, so every setting a crawl ran with is
visible in code and in its tests. session.py alone reads deployment
settings (CPU count, driver memory, thread-count defaults)."""

import os
import re

import distributed_web_crawler_spark as pkg

_ENV_READ = re.compile(r"\bos\.(?:environ|getenv)\b|\bfrom\s+os\s+import\b.*\b(?:environ|getenv)\b")


def test_only_session_reads_the_environment():
    root = os.path.dirname(pkg.__file__)
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, root)
            if not name.endswith(".py") or rel == "session.py":
                continue
            with open(path) as f:
                for lineno, line in enumerate(f, 1):
                    if _ENV_READ.search(line):
                        offenders.append(f"{rel}:{lineno}: {line.strip()}")
    assert not offenders, "environment reads outside session.py:\n" + "\n".join(offenders)

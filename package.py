#!/usr/bin/env python
"""Build the --py-files artifact for cluster submission (north rule: "runs
via spark-submit --py-files on multi-executor clusters").

    python package.py                      # -> dist/webcrawl_lowres_lang_spark.zip
    spark-submit --py-files dist/webcrawl_lowres_lang_spark.zip \
        your_job.py    # e.g. a driver script calling streaming.run_crawl
"""

from __future__ import annotations

import os

from webcrawl_lowres_lang_spark.session import write_package_zip

ROOT = os.path.dirname(os.path.abspath(__file__))


def main() -> str:
    out_dir = os.path.join(ROOT, "dist")
    os.makedirs(out_dir, exist_ok=True)
    out = write_package_zip(os.path.join(out_dir, "webcrawl_lowres_lang_spark.zip"))
    print(out)
    return out


if __name__ == "__main__":
    main()

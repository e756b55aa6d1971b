"""File-backed fake of the S3 client surface used by sinks/blob._move_one
(copy_object / head_object / delete_object / put_object).

Objects live as plain files under ``<root>/<bucket>/<key>``: the test seeds
objects on disk, the blob sink's promotion builds its client via the
``client_factory`` string ``"...testing.fake_s3:factory:<root>"`` and
operates on the same store, and the test asserts on the files left behind
— the same seeding pattern as testing/fake_kinesis.py.
"""

from __future__ import annotations

import os
import shutil


class FakeS3Client:
    def __init__(self, root: str):
        self.root = root

    def _path(self, bucket: str, key: str) -> str:
        return os.path.join(self.root, bucket, key)

    def put_object(self, Bucket: str, Key: str, Body: bytes) -> dict:
        p = self._path(Bucket, Key)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(Body)
        return {}

    def copy_object(self, Bucket: str, Key: str, CopySource: dict) -> dict:
        src = self._path(CopySource["Bucket"], CopySource["Key"])
        dst = self._path(Bucket, Key)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(src, dst)
        return {}

    def head_object(self, Bucket: str, Key: str) -> dict:
        return {"ContentLength": os.path.getsize(self._path(Bucket, Key))}

    def delete_object(self, Bucket: str, Key: str) -> dict:
        try:
            os.remove(self._path(Bucket, Key))
        except FileNotFoundError:
            pass
        return {}

    def list_keys(self, Bucket: str, Prefix: str = "") -> list[str]:
        base = os.path.join(self.root, Bucket)
        out = []
        for root, _dirs, files in os.walk(base):
            for f in files:
                key = os.path.relpath(os.path.join(root, f), base)
                if key.startswith(Prefix):
                    out.append(key)
        return sorted(out)


def factory(root: str) -> FakeS3Client:
    return FakeS3Client(root)

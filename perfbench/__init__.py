"""Layered benchmark of the frequent-pattern engine; see README.md."""


class SetupError(RuntimeError):
    """The run cannot start: missing package, fixtures or inputs."""

"""Registered query modules, one per operator family. Importing
``registry`` imports them all; ``registry.queries()`` orders the result
by the driver-sampling rotation, never by registration."""

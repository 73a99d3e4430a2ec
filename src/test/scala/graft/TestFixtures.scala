package graft

import java.net.URI
import java.nio.file.{FileSystemAlreadyExistsException, FileSystems, Path, Paths}

/** Locates the source trees kept under `src/test/resources/fixtures/`. */
object TestFixtures {

  /** The tree `fixtures/<name>` on the test classpath: a directory under
    * `testOnly`, an entry of the packaged tests jar under `Test/runMain`.
    * Fails with a message naming the path it looked for when the tree is
    * not there, so a missing tree reads as such rather than as a bare
    * NoSuchFileException from the first directory walk.
    */
  def root(name: String): Path = {
    val rel = s"fixtures/$name"
    Option(getClass.getClassLoader.getResource(rel)).map(_.toURI) match {
      case Some(uri) if uri.getScheme == "file" => Paths.get(uri)
      case Some(uri) if uri.getScheme == "jar" => inJar(uri)
      case _ => throw new java.io.FileNotFoundException(
        s"fixture tree $rel is not on the test classpath " +
          s"(expected src/test/resources/$rel)")
    }
  }

  // the jar's file system stays open for the life of the JVM: the walks
  // and reads run after root() returns
  private def inJar(uri: URI): Path = synchronized {
    val fs =
      try FileSystems.newFileSystem(uri, java.util.Collections.emptyMap[String, Any]())
      catch { case _: FileSystemAlreadyExistsException => FileSystems.getFileSystem(uri) }
    fs.provider().getPath(uri)
  }
}
